"""Window packing (T3) + realignment invariants."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nametag3_spark.data.synth import synth_transcripts
from nametag3_spark.operators.encode import (
    ChunkSubwordTokenizer,
    pack_conversations,
    pack_words,
    pad_batch,
    unpack_windows,
)
from nametag3_spark.operators.infer import annotate_turns


# ----------------------------------------------------------------- unit

def test_pack_words_single_window():
    subs = [[11], [12, 13], [14]]
    keys = [(0, 0), (0, 1), (1, 0)]
    ws = pack_words(subs, keys, max_len=512)
    assert len(ws) == 1
    w = ws[0]
    assert w["input_ids"][0] == 0 and w["input_ids"][-1] == 2  # CLS/SEP
    assert w["word_ids"] == [1, 2, 4]
    assert w["word_keys"] == keys


def test_pack_words_splits_on_budget():
    # max_len 8: CLS + capacity — each 3-subword word costs 3
    subs = [[11, 12, 13]] * 4
    keys = [(0, i) for i in range(4)]
    ws = pack_words(subs, keys, max_len=8)
    assert len(ws) > 1
    # every window fits the budget
    for w in ws:
        assert len(w["input_ids"]) <= 8
    # no word lost, order preserved
    flat = [k for w in ws for k in w["word_keys"]]
    assert flat == keys


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=6), min_size=0, max_size=40),
    st.integers(min_value=10, max_value=64),
)
def test_pack_words_properties(word_lens, max_len):
    subs = [[100 + i] * n for i, n in enumerate(word_lens)]
    keys = [(0, i) for i in range(len(word_lens))]
    ws = pack_words(subs, keys, max_len=max_len)
    flat_keys = [k for w in ws for k in w["word_keys"]]
    assert flat_keys == keys  # exactly once, in order
    for w in ws:
        assert len(w["input_ids"]) <= max_len
        # word_ids point at the first subword of each word
        for wid, key in zip(w["word_ids"], w["word_keys"]):
            word_idx = key[1]
            assert w["input_ids"][wid] == subs[word_idx][0]


def test_pad_batch_dynamic():
    out = pad_batch([[1, 2], [3], [4, 5, 6]])
    assert out.shape == (3, 3)
    assert out[1, 1] == -1 and out[1, 2] == -1


def test_tokenizer_deterministic():
    tok = ChunkSubwordTokenizer()
    a = tok.encode_words(["hello", "world", "hi"])
    b = tok.encode_words(["hello", "world", "hi"])
    assert a == b
    assert len(a[0]) == 2  # "hello" → "hell","o"
    assert len(a[2]) == 1


# ----------------------------------------------------------------- spark

def test_pack_conversations_covers_all_tokens(spark):
    transcripts = synth_transcripts(spark, n_convs=8, avg_turns=6)
    labeled = annotate_turns(transcripts)
    windows = pack_conversations(labeled, max_len=128)
    # exploded (turn, token) keys from windows == tokens per turn
    from_windows = (
        windows.select("conv_id", F.explode("word_keys").alias("k"))
        .select("conv_id", "k.turn_idx", "k.token_idx")
    )
    from_turns = labeled.select(
        "conv_id",
        "turn_idx",
        F.posexplode("tokens").alias("token_idx", "_tok"),
    ).select("conv_id", "turn_idx", "token_idx")
    assert sorted(map(tuple, from_windows.collect())) == sorted(
        map(tuple, from_turns.collect())
    )
    # budget respected (long turns force continuation windows)
    assert windows.where(F.size("input_ids") > 128).count() == 0
    assert windows.groupBy("conv_id").count().count() == 8


def test_unpack_windows_inverts_both_packers(spark):
    """Unpacking windows by their carried keys gives back every non-empty
    turn's tokens in order — across continuation windows (max_len=16
    splits long turns) and across left-context windows, which keep a turn
    whole when it fits the frame and its head when it alone does not."""
    from nametag3_spark.operators.encode import pack_with_left_context

    labeled = annotate_turns(synth_transcripts(spark, n_convs=6, avg_turns=5))
    turns = {
        (r["conv_id"], r["turn_idx"]): list(r["tokens"])
        for r in labeled.collect()
        if r["tokens"]
    }

    def unpacked(windows):
        return {
            (r["conv_id"], r["turn_idx"]): list(r["tokens"])
            for r in unpack_windows(windows).collect()
        }

    packed = pack_conversations(labeled, max_len=16)
    assert packed.count() > packed.select("conv_id").distinct().count()
    assert unpacked(packed) == turns

    ctx = unpacked(pack_with_left_context(labeled))  # 512-subword frame
    assert ctx.keys() == turns.keys()
    tok = ChunkSubwordTokenizer()
    for key, toks in turns.items():
        if sum(map(len, tok.encode_words(toks))) + 2 < 512:
            assert ctx[key] == toks, key
        else:
            assert ctx[key] == toks[: len(ctx[key])], key


def test_left_context_packing(spark):
    from nametag3_spark.operators.encode import pack_with_left_context

    transcripts = synth_transcripts(spark, n_convs=5, avg_turns=6)
    labeled = annotate_turns(transcripts)
    windows = pack_with_left_context(labeled, max_len=256, context_budget=64)
    rows = {
        (r["conv_id"], r["window_idx"]): r
        for r in windows.collect()
    }
    n_turns = labeled.count()
    assert len(rows) == n_turns  # one window per turn
    # word_keys of window i reference only turn i (context is unlabeled)
    for (conv, widx), r in rows.items():
        assert all(k["turn_idx"] == widx for k in r["word_keys"])
        assert len(r["input_ids"]) <= 256
        # word_ids point at the first subword of the turn's words
        # (shifted past the context prefix)
        if r["word_ids"]:
            assert r["word_ids"][0] >= 1  # after CLS (+ any context)
    # later windows in a conversation carry context → longer inputs than
    # their bare turn on average
    firsts = [r for (c, w), r in rows.items() if w == 0]
    laters = [r for (c, w), r in rows.items() if w >= 2]
    if laters:
        avg_first = sum(len(r["input_ids"]) - len(r["word_ids"]) for r in firsts) / len(firsts)
        avg_later = sum(len(r["input_ids"]) - len(r["word_ids"]) for r in laters) / len(laters)
        assert avg_later > avg_first  # context prefix present


def test_left_context_default_params_covers_all_tokens(spark):
    """DEFAULT max_len/context_budget: every token of every turn must
    appear in word_keys — context is evicted BEFORE framing, the current
    turn is never truncated (the reference's max_context semantics:
    nametag3_dataset.py trims context from the left AFTER extending with
    the current sentence, so the sentence always survives)."""
    from nametag3_spark.operators.encode import pack_with_left_context

    # 40 turns × 10 multi-subword words ≈ 1200 subwords — cumulative
    # context saturates the 509 budget well before turn 25
    rows = [
        ("c0", t, ["wordy%02d%02d" % (t, i) for i in range(10)])
        for t in range(40)
    ]
    labeled = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, tokens array<string>"
    )
    windows = pack_with_left_context(labeled)  # defaults: 512 / 509
    per_turn = {
        r["window_idx"]: r for r in windows.collect()
    }
    assert len(per_turn) == 40
    for widx, r in per_turn.items():
        keys = [(k["turn_idx"], k["token_idx"]) for k in r["word_keys"]]
        assert keys == [(widx, i) for i in range(10)], (
            f"turn {widx} lost tokens: {keys}"
        )
        assert len(r["input_ids"]) <= 512
        # word_ids point at the first subword of each of the turn's words
        for wid in r["word_ids"]:
            assert 1 <= wid < len(r["input_ids"]) - 1


def test_pack_words_effective_budget_guard():
    """With max_len < 512 the frame capacity (max_len - 2) binds before
    the global 510-subword cap: a word between the two must raise, not
    silently emit a window exceeding max_len (ADVICE round-2)."""
    import pytest

    # 10 subwords, max_len=8: frame capacity is 6 — must raise
    subs = [[1] * 10]
    with pytest.raises(ValueError, match="explodes"):
        pack_words(subs, [(0, 0)], max_len=8)
    # exactly at capacity: CLS + 6 + SEP = 8 — must fit in one window
    ws = pack_words([[1] * 6], [(0, 0)], max_len=8)
    assert len(ws) == 1 and len(ws[0]["input_ids"]) == 8


def test_pack_conversations_effective_budget_guard(spark):
    """Same guard on the DataFrame path (_pack_group)."""
    import pytest

    from nametag3_spark.operators.encode import pack_conversations

    # one 3-char word tokenizes to >=1 subword per 4 chars; a 60-char
    # word far exceeds a max_len=8 frame (capacity 6 subwords)
    df = spark.createDataFrame(
        [("c1", 0, ["x" * 60])],
        "conv_id string, turn_idx int, tokens array<string>",
    )
    with pytest.raises(Exception, match="explodes"):
        pack_conversations(df, max_len=8).collect()
