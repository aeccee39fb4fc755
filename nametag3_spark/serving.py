"""Batch request-serving surface — the Spark-first analog of the REST
server (reference nametag3_server.py:455-717).

The HTTP socket plumbing is out of scope for a batch engine; what this
module maps is everything the server DOES to a request between socket
reads, re-expressed over a DataFrame where each row is one request:

* model-alias resolution with progressive suffix-stripping and
  shared-instance registration (Models.__init__,
  nametag3_server.py:423-453): a dict lookup per request
* parameter validation in the reference's order with its error texts
  and codes, including the 413 request-size guard (do_GET,
  nametag3_server.py:497-516, 566-590)
* whole-request NFC normalization + the X-Billing-Input-NFC-Len count
  over word forms (nametag3_server.py:565, 604)
* input parsing: untokenized | vertical | conllu, with the conllu
  multiword-token skip (nametag3_server.py:595-610)
* batched scoring (one ``label_batch`` call per request) through the
  shared per-worker instance of the model the request's alias resolved
  to, then per-format rendering: xml | vertical | conll | conllu-ne,
  with the request-global vertical token counter and the weblicht
  raw-CoNLL-U content type (nametag3_server.py:612-700)
* the conllu-ne generator header and the JSON response envelope
  (nametag3_server.py:700-717)

Execution shape (the 100 TB design): requests are row-independent, so one
routine, ``_handle_request`` (the counterpart of do_GET), runs everything
above for a request inside ONE ``mapInPandas`` pass. The plan is a
projection plus that pass: one Arrow boundary, no join, union or shuffle,
whatever the number of models or error rows (chaining two Python stages
costs a serialization boundary; measured 30× on a 4-core host). The
projection is the 413 guard: it flags an oversize request and nulls its
``data``, so such a payload never crosses into Python.
"""

from __future__ import annotations

import json
import unicodedata
from typing import Iterator, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nametag3_spark.functions.text import (
    MAX_CHARS_PER_WORD,
    _truecase_word,
    conllu_tokens,
    split_sentences,
    tokenize_text,
)
from nametag3_spark.operators.decode import decode_spans

MAX_REQUEST_SIZE = 4096 * 1024  # reference --max_request_size default
ACK_URL = "https://ufal.mff.cuni.cz/nametag/3#acknowledgements"
VALID_INPUTS = ("untokenized", "vertical", "conllu")
BASE_OUTPUTS = ("xml", "vertical")
RECOGNIZE_OUTPUTS = ("xml", "vertical", "conll", "conllu-ne")
TOO_LARGE = (
    "The request is too large (HTTP 413).\n\nFix: Split your input on "
    "sentence boundaries into smaller\nparts and send each part as a "
    "separate request,\nthen concatenate the results.\n"
)
CONLLU_NE_HEADER = (
    "# generator = NameTag 3, https://lindat.mff.cuni.cz/services/nametag\n"
    "# nametag_model = {model}\n"
    "# nametag_model_licence = CC BY-NC-SA\n"
)


def expand_aliases(name: str) -> list[str]:
    """``a-b-c`` → [``a-b-c``, ``a-b``, ``a``] — the server's progressive
    trailing-part strip (nametag3_server.py:430-433)."""
    parts = name.split("-")
    return ["-".join(parts[: None if not i else -i]) for i in range(len(parts))]


class RegisteredModel(NamedTuple):
    canonical: str
    scorer: str
    tagset: str | None
    acknowledgements: str


class ModelRegistry:
    """Model names → scorer keys, with the server's alias semantics:
    colon-separated name lists, progressive suffix aliases, first
    registration wins an alias (setdefault), and models registered under
    the same scorer key share one instance (the per-worker scorer cache
    in operators/infer.py provides the sharing; J5)."""

    def __init__(self, default_model: str | None = None):
        self.aliases: dict[str, RegisteredModel] = {}
        self.canonical_names: list[str] = []
        self.default_model = default_model

    def register(
        self,
        names: str,
        scorer: str,
        tagset: str | None = None,
        acknowledgements: str = "",
    ) -> None:
        name_list = names.split(":")
        canonical = name_list[0]
        self.canonical_names.append(canonical)
        if self.default_model is None:
            self.default_model = canonical
        model = RegisteredModel(canonical, scorer, tagset, acknowledgements)
        for name in name_list:
            for alias in expand_aliases(name):
                self.aliases.setdefault(alias, model)

    def models_response(self) -> dict:
        """The /models endpoint payload (nametag3_server.py:556-563)."""
        return {
            "models": {
                name: ["tokenize", "recognize"] for name in self.canonical_names
            },
            "default_model": self.default_model,
        }


def _parse_sentences(data: str, input_format: str) -> list[list[str]]:
    """Request data → per-sentence ORIGINAL token forms (post-NFC).

    untokenized: raw text through the UDPipe-lite segmenter+tokenizer —
    newlines always end a sentence AND each line is further split at
    sentence boundaries (abbreviation/initial-aware, functions/text.py:
    split_sentences), matching the reference's UDPipe behavior on
    multi-sentence paragraphs (nametag3_server.py:104-137); vertical:
    one token per line, blank line ends a sentence; conllu: blank-line
    blocks through the multiword-skipping flattener."""
    if input_format == "vertical":
        sentences, cur = [], []
        for line in data.split("\n"):
            if line.strip():
                cur.append(line.strip())
            elif cur:
                sentences.append(cur)
                cur = []
        if cur:
            sentences.append(cur)
        return sentences
    if input_format == "conllu":
        return [
            toks
            for block in data.split("\n\n")
            if (toks := conllu_tokens(block))
        ]
    return [
        toks
        for line in data.split("\n")
        for sent in split_sentences(line)
        if (toks := tokenize_text(sent))
    ]


def _billing_chars(data: str, input_format: str) -> int:
    """X-Billing-Input-NFC-Len: char count over WORD forms — for conllu
    that is the syntactic-word lines (integer ids), NOT the multiword
    surface tokens (reference sums sentence.words[1:],
    nametag3_server.py:604)."""
    if input_format == "conllu":
        total = 0
        for line in data.split("\n"):
            if not line or line.startswith("#"):
                continue
            cols = line.split("\t")
            if len(cols) > 1 and cols[0].isdigit():
                total += len(cols[1])
        return total
    return sum(len(t) for sent in _parse_sentences(data, input_format) for t in sent)


def _prep_for_scoring(tokens: list[str]) -> list[str]:
    # dataset-side preprocessing (P3+P4) applies to the model INPUT only;
    # rendered output keeps the original (NFC'd) forms, as the server does
    return [
        _truecase_word(unicodedata.normalize("NFC", w[:MAX_CHARS_PER_WORD]))
        for w in tokens
    ]


def _render_request(
    sentences: list[list[str]],
    spans_per_sent: list[list[dict]],
    stacks_per_sent: list[list[str]],
    output: str,
) -> tuple[str, int]:
    """All sentences of ONE request → (result string, n_entities)."""
    from nametag3_spark.sources.conll import (
        conllu_sentence,
        vertical_entity_lines,
        xml_sentence,
    )

    n_entities = sum(len(sp) for sp in spans_per_sent)
    if output == "xml":
        body = "".join(
            xml_sentence(fs, sp) + "\n"
            for fs, sp in zip(sentences, spans_per_sent)
        )
    elif output == "vertical":
        lines: list[str] = []
        offset = 0  # running token counter across the request's sentences
        for fs, sp in zip(sentences, spans_per_sent):
            surfaces = [
                " ".join(fs[m["start_tok"] : m["end_tok"] + 1]) for m in sp
            ]
            lines.extend(vertical_entity_lines(sp, surfaces, offset))
            offset += len(fs)
        body = "\n".join(lines) + ("\n" if lines else "")
    elif output == "conll":
        body = "\n\n".join(
            "\n".join(f"{w}\t{lab}" for w, lab in zip(fs, stacks))
            for fs, stacks in zip(sentences, stacks_per_sent)
        ) + ("\n" if sentences else "")
    else:  # conllu-ne
        body = "\n\n".join(
            conllu_sentence(fs, sp)
            for fs, sp in zip(sentences, spans_per_sent)
        ) + ("\n" if sentences else "")
    return body, n_entities


def _handle_request(
    registry: ModelRegistry,
    request_id: str,
    endpoint: str,
    data: str | None,
    too_large: bool,
    model_req: str | None,
    input_fmt: str | None,
    output_fmt: str | None,
) -> tuple:
    """One request → one response row (_RESPONSE_SCHEMA), in do_GET's
    order: endpoint defaults, validation, parse, predict, render, wrap."""
    model_req = registry.default_model if model_req is None else model_req
    model = registry.aliases.get(model_req)
    weblicht = endpoint == "weblicht/recognize"
    if endpoint == "tokenize":
        input_fmt = "untokenized"
    elif weblicht:
        input_fmt, output_fmt = "conllu", "conllu-ne"
    input_fmt = input_fmt or "untokenized"
    output_fmt = output_fmt or "xml"

    message = None
    if too_large:
        message = TOO_LARGE
    elif data is None:
        message = "The parameter 'data' is required."
    elif model is None:
        message = f"The requested model '{model_req}' does not exist."
    elif input_fmt not in VALID_INPUTS:
        message = f"The requested input '{input_fmt}' does not exist."
    elif output_fmt not in (
        BASE_OUTPUTS if endpoint == "tokenize" else RECOGNIZE_OUTPUTS
    ):
        message = f"The requested output '{output_fmt}' does not exist."
    if message is not None:
        status = 413 if too_large else 400
        return (request_id, status, "text/plain", None, None, None, None, message)

    data = unicodedata.normalize("NFC", data)
    sentences = _parse_sentences(data, input_fmt)
    # the word forms are the sentences just parsed, except for conllu,
    # which bills its word lines, not the surface tokens
    billing = (
        _billing_chars(data, input_fmt)
        if input_fmt == "conllu"
        else sum(len(t) for sent in sentences for t in sent)
    )
    if endpoint == "tokenize" or not sentences:
        spans: list[list[dict]] = [[] for _ in sentences]
        stacks: list[list[str]] = [["O"] * len(s) for s in sentences]
    else:
        from nametag3_spark.operators.infer import _get_scorer

        # ONE label_batch call per request: the scorer batches
        # internally; the per-worker instance is shared (J5)
        stacks = _get_scorer(model.scorer).label_batch(
            [_prep_for_scoring(s) for s in sentences]
        )
        spans = [
            [
                {"label": t, "start_tok": s, "end_tok": e}
                for t, s, e in decode_spans(st)
            ]
            for st in stacks
        ]
    result, n_entities = _render_request(sentences, spans, stacks, output_fmt)

    if weblicht:
        content_type, body = "application/conllu", result
    else:
        if output_fmt == "conllu-ne":
            result = CONLLU_NE_HEADER.format(model=model.canonical) + result
        content_type = "application/json"
        body = json.dumps(
            {
                "model": model.canonical,
                "acknowledgements": [ACK_URL, model.acknowledgements],
                "result": result,
            },
            ensure_ascii=False,
            separators=(",", ":"),
        )
    return (
        request_id, 200, content_type, billing, model.canonical,
        len(sentences), n_entities, body,
    )


_RESPONSE_SCHEMA = (
    "request_id string, status int, content_type string, "
    "billing_nfc_len bigint, model string, n_sentences int, "
    "n_entities int, body string"
)


def _serve_batches(
    batches: Iterator[pd.DataFrame], registry: ModelRegistry
) -> Iterator[pd.DataFrame]:
    columns = [f.split()[0] for f in _RESPONSE_SCHEMA.split(", ")]
    for pdf in batches:
        if len(pdf):
            yield pd.DataFrame(
                [
                    _handle_request(registry, *req)
                    for req in pdf.itertuples(index=False)
                ],
                columns=columns,
            )


def process_requests(
    requests: DataFrame,
    registry: ModelRegistry,
    max_request_size: int = MAX_REQUEST_SIZE,
) -> DataFrame:
    """Requests (request_id, endpoint, data, model, input, output) →
    responses (request_id, status, content_type, billing_nfc_len, model,
    n_sentences, n_entities, body).

    ``endpoint`` ∈ recognize | tokenize | weblicht/recognize (the three
    data paths of do_GET). Null model/input/output take the server's
    defaults. Every request, valid or not, goes through the one
    ``mapInPandas`` pass, which runs the model its alias resolved to;
    the registry rides into the pass with the function.
    """
    if not registry.aliases:
        raise ValueError(
            "process_requests needs a ModelRegistry with at least one "
            "registered model"
        )
    too_large = (
        F.octet_length(F.coalesce(F.col("data"), F.lit(""))) > max_request_size
    )
    # the columns in _handle_request's order; an oversize payload stops
    # here, only its flag enters Python
    return requests.select(
        "request_id", "endpoint", F.when(~too_large, F.col("data")).alias("data"),
        too_large.alias("too_large"), "model", "input", "output",
    ).mapInPandas(
        lambda batches: _serve_batches(batches, registry),
        schema=_RESPONSE_SCHEMA,
    )
