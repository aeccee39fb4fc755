"""HFTransformerScorer driven end-to-end with FAKED torch/transformers.

The production adapter body (HF tokenizer offsets → padded forward →
first-subword argmax gather, reference nametag3_model.py:963-1042) must
be executed by CI, not just its import gate. The fakes implement the
exact module surface the adapter uses (``word_ids``, ``**encoding``
unpack, ``logits.detach().cpu().numpy()``) and PLANT WRONG labels at
continuation-subword and pad positions, so any gather bug shows up as a
label leak rather than silent agreement.

Fake semantics: a word's first subword gets input id 2 when the word is
capitalized (model → B-PER) else 1 (→ O); continuation subwords get id 3
and pads/specials 0, both of which the model maps to I-PER (the poison).
Expected labels are therefore computable per word in the test.
"""

from __future__ import annotations

import os
import sys
import textwrap

import pytest

FAKE_TORCH = textwrap.dedent(
    '''
    """Fake torch: just the no_grad context the adapter uses."""
    import contextlib

    @contextlib.contextmanager
    def no_grad():
        yield
    '''
)

FAKE_TRANSFORMERS = textwrap.dedent(
    '''
    """Fake transformers with the AutoTokenizer/AutoModel surface the
    HFTransformerScorer adapter touches. Words longer than 4 chars split
    into TWO subwords so the first-subword gather is non-trivial."""
    import numpy as np


    class _Tensor:
        def __init__(self, arr):
            self.arr = np.asarray(arr)

        def detach(self):
            return self

        def cpu(self):
            return self

        def numpy(self):
            return self.arr


    class _Encoding(dict):
        def __init__(self, data, word_ids):
            super().__init__(data)
            self._word_ids = word_ids

        def word_ids(self, i):
            return self._word_ids[i]


    def _subwords(word):
        return [word[:4], word[4:]] if len(word) > 4 else [word]


    class AutoTokenizer:
        @classmethod
        def from_pretrained(cls, path):
            return cls()

        def __call__(self, sentences, is_split_into_words=False,
                     padding=True, truncation=True, return_tensors=None):
            assert is_split_into_words, "adapter must pass pre-split words"
            ids, wids = [], []
            for sent in sentences:
                row_ids, row_wids = [0], [None]  # CLS-like special
                for w_i, w in enumerate(sent):
                    subs = _subwords(w)
                    first_id = 2 if (w and w[0].isupper()) else 1
                    row_ids.append(first_id)
                    row_wids.append(w_i)
                    for _ in subs[1:]:
                        row_ids.append(3)       # continuation subword
                        row_wids.append(w_i)    # same word id
                ids.append(row_ids)
                wids.append(row_wids)
            width = max(len(r) for r in ids)
            for r, w in zip(ids, wids):
                r.extend([0] * (width - len(r)))       # pad id
                w.extend([None] * (width - len(w)))    # pad word_id
            return _Encoding(
                {"input_ids": _Tensor(ids),
                 "attention_mask": _Tensor([[1] * width] * len(ids))},
                wids,
            )


    class AutoModelForTokenClassification:
        class _Cfg:
            id2label = {0: "O", 1: "B-PER", 2: "I-PER"}

        config = _Cfg()

        @classmethod
        def from_pretrained(cls, path):
            return cls()

        def eval(self):
            return self

        def __call__(self, input_ids=None, attention_mask=None, **kw):
            arr = input_ids.numpy()
            logits = np.zeros(arr.shape + (3,), dtype=np.float32)
            logits[arr == 1, 0] = 1.0  # lowercase word -> O
            logits[arr == 2, 1] = 1.0  # capitalized word -> B-PER
            logits[arr == 3, 2] = 1.0  # POISON: continuation -> I-PER
            logits[arr == 0, 2] = 1.0  # POISON: pad/special -> I-PER

            class _Out:
                pass

            out = _Out()
            out.logits = _Tensor(logits)
            return out
    '''
)


@pytest.fixture(scope="module")
def fake_hf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fake_hf")
    (d / "torch.py").write_text(FAKE_TORCH)
    (d / "transformers.py").write_text(FAKE_TRANSFORMERS)
    return str(d)


@pytest.fixture()
def fake_hf_on_driver(fake_hf_dir, monkeypatch):
    """Make the fakes importable in THIS process (driver-side tests)."""
    monkeypatch.syspath_prepend(fake_hf_dir)
    for mod in ("torch", "transformers"):
        sys.modules.pop(mod, None)
    yield fake_hf_dir
    for mod in ("torch", "transformers"):
        sys.modules.pop(mod, None)


def _expected_label(word: str) -> str:
    return "B-PER" if word and word[0].isupper() else "O"


def test_hf_scorer_first_subword_gather(fake_hf_on_driver):
    """Driver-side: the adapter's offsets→gather must pick every word's
    FIRST subword — the poison labels at continuations/pads leak as
    I-PER the moment the gather is off by one position."""
    from nametag3_spark.operators.infer import HFTransformerScorer

    scorer = HFTransformerScorer("any-checkpoint-dir")
    batch = [
        ["Alexandra", "visited", "Prague", "today"],  # multi-subword words
        ["ok"],
        [],
        ["Tiny", "x", "Magnificent"],
    ]
    labels = scorer.label_batch(batch)
    assert labels == [[_expected_label(w) for w in sent] for sent in batch]
    # multi-subword coverage: both a >4-char capitalized and lowercase word
    assert any(len(w) > 4 and w[0].isupper() for s in batch for w in s)
    assert any(len(w) > 4 and w[0].islower() for s in batch for w in s)


def test_hf_scorer_turn_path_end_to_end(spark, fake_hf_dir):
    """annotate_turns(t, "hf:…") → extract_mentions, with the fake
    modules shipped to executors via addPyFile — the full production
    path, reference nametag3_model.py:963-1042. Each Arrow batch is ONE
    padded forward over many turns, so the pads of the shorter turns
    carry the poison label too."""
    from nametag3_spark.data.synth import synth_transcripts
    from nametag3_spark.operators.decode import decode_spans
    from nametag3_spark.operators.infer import annotate_turns
    from nametag3_spark.operators.triples import extract_mentions

    for fname in ("torch.py", "transformers.py"):
        spark.sparkContext.addPyFile(os.path.join(fake_hf_dir, fname))

    transcripts = synth_transcripts(spark, n_convs=6, avg_turns=5)
    labeled = annotate_turns(transcripts, scorer="hf:any-checkpoint-dir")
    turns = labeled.collect()
    words = [(w, lab) for r in turns for w, lab in zip(r["tokens"], r["labels"])]
    assert len(words) > 0
    for r in turns:
        assert len(r["labels"]) == len(r["tokens"]), r
    for w, lab in words:
        assert lab == _expected_label(w), (w, lab)
    # both classes and a multi-subword capitalized word must occur
    assert {lab for _, lab in words} == {"O", "B-PER"}
    assert any(len(w) > 4 and lab == "B-PER" for w, lab in words)

    # mentions must equal a driver-side decode of the same token-label
    # streams
    expected = {
        (r["conv_id"], r["turn_idx"], typ, s, e, " ".join(r["tokens"][s : e + 1]))
        for r in turns
        for typ, s, e in decode_spans(list(r["labels"]))
    }
    got = {
        (m["conv_id"], m["turn_idx"], m["label"], m["start_tok"],
         m["end_tok"], m["surface"])
        for m in extract_mentions(labeled).collect()
    }
    assert got == expected
    assert len(got) > 0
