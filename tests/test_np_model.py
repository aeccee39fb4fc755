"""NumPy flat-softmax model as a ``Scorer``: checkpoint source (S5),
dynamic padding (T6), logits→word realignment (J1) through
``annotate_turns(t, "np:<checkpoint>")``, worker model singleton (J5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nametag3_spark.data.synth import synth_transcripts
from nametag3_spark.operators.encode import (
    BATCH_PAD,
    ChunkSubwordTokenizer,
    pack_words,
    pad_batch,
)
from nametag3_spark.operators.infer import annotate_turns
from nametag3_spark.operators.np_model import NpFlatNER


def test_checkpoint_roundtrip(tmp_path):
    model = NpFlatNER.init_random(seed=7)
    path = str(tmp_path / "ckpt.npz")
    model.save(path)
    loaded = NpFlatNER.load(path)
    ids = pad_batch([[11, 12, 13], [14], [15, 16, 17, 18, 19]])
    a = model.forward(ids)
    b = loaded.forward(ids)
    assert a.shape == (3, 5, len(model.labels))
    np.testing.assert_array_equal(a, b)
    assert loaded.labels == model.labels


def test_forward_masks_padding():
    model = NpFlatNER.init_random()
    ids = pad_batch([[11, 12], [13]])
    logits = model.forward(ids)
    assert ids[1, 1] == BATCH_PAD
    assert np.all(logits[1, 1] == 0.0)  # pad position masked
    assert np.any(logits[1, 0] != 0.0)


def test_label_batch_equals_packed_window_gather():
    """``label_batch`` frames each sentence on its own; gathering the
    logits of ONE packed window holding both sentences at their words'
    first subwords gives the same labels, because ``forward`` is
    position-independent — so scoring whole turns gives the labels a
    packed-window forward would."""
    model = NpFlatNER.init_random(seed=3)
    sents = [["Alexandra", "visited", "Prague"], ["ok"], [], ["Tiny", "x"]]
    words = [w for s in sents for w in s]
    keys = [(i, j) for i, s in enumerate(sents) for j in range(len(s))]
    (window,) = pack_words(ChunkSubwordTokenizer().encode_words(words), keys)
    logits = model.forward(pad_batch([window["input_ids"]]))
    gathered = [model.labels[int(p)] for p in logits[0, window["word_ids"]].argmax(axis=1)]

    labels = model.label_batch(sents)
    assert [len(x) for x in labels] == [len(s) for s in sents]
    assert [lab for x in labels for lab in x] == gathered
    assert len(set(gathered)) > 1


def test_annotate_turns_np_covers_every_token(spark, tmp_path):
    model = NpFlatNER.init_random(seed=42)
    path = str(tmp_path / "m.npz")
    model.save(path)

    t = synth_transcripts(spark, n_convs=10, avg_turns=6)
    scored = annotate_turns(t, scorer="np:" + path)

    # one label per token, every turn scored once
    assert scored.where(F.size("labels") != F.size("tokens")).count() == 0
    assert scored.count() == t.count()
    assert scored.select("conv_id", "turn_idx").distinct().count() == t.count()
    labels = scored.select(F.explode("labels").alias("label"))
    n_tokens = scored.select(F.sum(F.size("tokens"))).collect()[0][0]
    assert labels.count() == n_tokens > 0
    # labels come from the model vocab
    assert {r["label"] for r in labels.distinct().collect()} <= set(model.labels)


def test_annotate_turns_np_partitioning_invariant(spark, tmp_path):
    """Same checkpoint + same input ⇒ identical keyed labels regardless of
    how turns are partitioned, and so batched (the cluster-layout
    invariance a checkpointed scorer must have)."""
    model = NpFlatNER.init_random(seed=1)
    path = str(tmp_path / "m.npz")
    model.save(path)

    t = synth_transcripts(spark, n_convs=6, avg_turns=5)
    key = "np:" + path

    def keyed(df):
        return {
            (r["conv_id"], r["turn_idx"], tuple(r["labels"]))
            for r in annotate_turns(df, key).collect()
        }

    a = keyed(t.repartition(1))
    b = keyed(t.repartition(16))
    assert a == b and len(a) > 0


def test_missing_checkpoint_raises(spark, tmp_path):
    t = synth_transcripts(spark, n_convs=2, avg_turns=3)
    with pytest.raises(Exception):
        annotate_turns(t, "np:" + str(tmp_path / "nope.npz")).collect()


def test_pipeline_np_model_counts_pinned(spark):
    """The ``pipeline_np_model`` entry query (seed-42 checkpoint, sf0.01
    synth sizes) keeps the per-label token counts it had when it scored
    with a dedicated window pass, before the model moved behind
    ``annotate_turns(t, "np:…")``."""
    from tests.test_driver_contract import _entry

    rows = _entry().queries()["pipeline_np_model"](spark, "sf0.01").collect()
    assert {r["label"]: r["n_tokens"] for r in rows} == {
        "B-LOC": 1570, "B-ORG": 325, "B-PER": 1260,
        "I-LOC": 18489, "I-ORG": 709, "O": 13288,
    }
