"""The per-turn Arrow pass (``infer._labeled_batches``) driven without
Spark: it must score an Arrow batch with ONE ``label_batch`` call and
yield exactly the mentions a turn-by-turn oracle pass yields."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa

from nametag3_spark.functions.text import prep_tokens
from nametag3_spark.operators import infer
from nametag3_spark.operators.decode import decode_spans

TEXTS = [
    ["John Smith met Mary at the Bank of New York.",
     "",
     "ACME CORP opened an office in Berlin and Paris.",
     None],
    ["Nothing to see here.",
     "Alice Brown studied at the University of Prague with Bob."],
]


class CountingScorer:
    def __init__(self) -> None:
        self.inner = infer.OracleGazetteerScorer()
        self.calls = 0

    def label_batch(self, tokens):
        self.calls += 1
        return self.inner.label_batch(tokens)


def _batch(b: int, texts: list) -> pa.RecordBatch:
    n = len(texts)
    ts = dt.datetime(2024, 1, 1)
    return pa.RecordBatch.from_pydict({
        "conv_id": [f"c{b}"] * n,
        "turn_idx": pa.array(range(n), type=pa.int32()),
        "role": ["user"] * n,
        "text": texts,
        "tool": [None] * n,
        "ts": pa.array([ts] * n, type=pa.timestamp("us")),
    })


def _oracle_rows(batches: list[pa.RecordBatch]) -> list[tuple]:
    oracle = infer.OracleGazetteerScorer()
    rows = []
    for batch in batches:
        for r in batch.to_pylist():
            text = r["text"]
            tokens = prep_tokens(text) if isinstance(text, str) and text else []
            for typ, s, e in decode_spans(oracle.label_batch([tokens])[0]):
                rows.append((r["conv_id"], r["turn_idx"], r["role"], r["tool"],
                             r["ts"], typ, s, e, " ".join(tokens[s : e + 1])))
    return rows


def _labeled_rows(out: list[pa.RecordBatch]) -> list[tuple]:
    oracle = infer.OracleGazetteerScorer()
    rows = []
    for batch in out:
        assert batch.schema.names == [
            *infer.TURN_COLUMNS, "tokens", "labels", "spans",
        ]
        for r in batch.to_pylist():
            tokens = r["tokens"]
            assert r["labels"] == oracle.label_batch([tokens])[0]
            for sp in r["spans"]:
                s, e = sp["start_tok"], sp["end_tok"]
                rows.append((r["conv_id"], r["turn_idx"], r["role"], r["tool"],
                             r["ts"], sp["label"], s, e,
                             " ".join(tokens[s : e + 1])))
    return rows


def test_one_scorer_call_per_arrow_batch(monkeypatch):
    scorer = CountingScorer()
    monkeypatch.setitem(infer._SCORER_CACHE, "counting", scorer)
    batches = [_batch(b, texts) for b, texts in enumerate(TEXTS)]

    out = list(infer._labeled_batches("counting")(iter(batches)))

    assert scorer.calls == len(batches) == 2
    expected = _oracle_rows(batches)
    assert len(expected) >= 6
    assert _labeled_rows(out) == expected
