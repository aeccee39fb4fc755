"""Batch request-serving surface — the Spark-first analog of the REST
server (reference nametag3_server.py:455-717).

The HTTP socket plumbing is out of scope for a batch engine; what this
module maps is everything the server DOES to a request between socket
reads, re-expressed over a DataFrame where each row is one request:

* model-alias resolution with progressive suffix-stripping and
  shared-instance registration (Models.__init__,
  nametag3_server.py:423-453)
* parameter validation with the reference's error texts and codes,
  including the 413 request-size guard (do_GET,
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

Execution shape (the 100 TB design): requests are row-independent, so the
whole parse→score→decode→render chain runs in ONE fused ``mapInPandas``
pass for every registered model — a single Arrow boundary, no shuffle
anywhere, no second Python stage and no per-model union in the plan
(chaining two Python stages costs a serialization boundary; measured 30×
on this host). Validation and response-envelope assembly are pure
column expressions; the registry join is a broadcast of a tiny alias
table. Request size is bounded by the 413 guard, so no single row can
skew a partition.
"""

from __future__ import annotations

import unicodedata
from typing import Iterator

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
from nametag3_spark.session import local_frame

MAX_REQUEST_SIZE = 4096 * 1024  # reference --max_request_size default
ACK_URL = "https://ufal.mff.cuni.cz/nametag/3#acknowledgements"
VALID_INPUTS = ("untokenized", "vertical", "conllu")
BASE_OUTPUTS = ("xml", "vertical")
RECOGNIZE_OUTPUTS = ("xml", "vertical", "conll", "conllu-ne")


def expand_aliases(name: str) -> list[str]:
    """``a-b-c`` → [``a-b-c``, ``a-b``, ``a``] — the server's progressive
    trailing-part strip (nametag3_server.py:430-433)."""
    parts = name.split("-")
    return ["-".join(parts[: None if not i else -i]) for i in range(len(parts))]


class ModelRegistry:
    """Model names → scorer keys, with the server's alias semantics:
    colon-separated name lists, progressive suffix aliases, first
    registration wins an alias (setdefault), and models registered under
    the same scorer key share one instance (the per-worker scorer cache
    in operators/infer.py provides the sharing; J5)."""

    def __init__(self, default_model: str | None = None):
        self._rows: list[tuple[str, str, str, str | None, str]] = []
        self._taken: set[str] = set()
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
        for name in name_list:
            for alias in expand_aliases(name):
                if alias in self._taken:  # setdefault: first wins
                    continue
                self._taken.add(alias)
                self._rows.append(
                    (alias, canonical, scorer, tagset, acknowledgements)
                )

    def alias_df(self, spark) -> DataFrame:
        return local_frame(
            spark,
            self._rows,
            "alias string, canonical string, scorer string, "
            "tagset string, acknowledgements string",
        )

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


def _serve_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The fused serving pass: each request runs the model its resolved
    alias registered (``scorer`` column), loaded once per key per worker
    by the scorer cache."""
    from nametag3_spark.operators.infer import _get_scorer

    for pdf in batches:
        if len(pdf) == 0:
            continue
        out_rows = []
        for req_id, data, input_fmt, output_fmt, endpoint, canonical, ack, key in zip(
            pdf["request_id"], pdf["data"], pdf["input"],
            pdf["output"], pdf["endpoint"],
            pdf["canonical"], pdf["acknowledgements"], pdf["scorer"],
        ):
            data = unicodedata.normalize("NFC", data or "")
            sentences = _parse_sentences(data, input_fmt)
            # the word forms are the sentences just parsed, except for
            # conllu, which bills its word lines, not the surface tokens
            billing = (
                _billing_chars(data, input_fmt)
                if input_fmt == "conllu"
                else sum(len(t) for sent in sentences for t in sent)
            )
            if endpoint == "tokenize" or not sentences:
                spans: list[list[dict]] = [[] for _ in sentences]
                stacks: list[list[str]] = [
                    ["O"] * len(s) for s in sentences
                ]
            else:
                # ONE label_batch call per request: the scorer batches
                # internally; per-worker instance is shared (J5)
                stacks = _get_scorer(key).label_batch(
                    [_prep_for_scoring(s) for s in sentences]
                )
                spans = [
                    [
                        {"label": t, "start_tok": s, "end_tok": e}
                        for t, s, e in decode_spans(st)
                    ]
                    for st in stacks
                ]
            result, n_entities = _render_request(
                sentences, spans, stacks, output_fmt
            )
            out_rows.append(
                (req_id, result, billing, len(sentences), n_entities,
                 endpoint, output_fmt, canonical, ack)
            )
        yield pd.DataFrame(
            out_rows,
            columns=[
                "request_id", "result", "billing_nfc_len",
                "n_sentences", "n_entities",
                "endpoint", "output", "canonical", "acknowledgements",
            ],
        )


_SERVE_SCHEMA = (
    "request_id string, result string, billing_nfc_len bigint, "
    "n_sentences int, n_entities int, endpoint string, output string, "
    "canonical string, acknowledgements string"
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
    defaults. Each request runs the model its resolved alias registered:
    the alias table's ``scorer`` key rides into the one fused pass, so N
    registered models still plan one Python stage.
    """
    spark = requests.sparkSession
    aliases = F.broadcast(registry.alias_df(spark))

    req = (
        requests.withColumn(
            "model_req", F.coalesce(F.col("model"), F.lit(registry.default_model))
        )
        .withColumn(
            "input",
            F.when(F.col("endpoint") == "tokenize", F.lit("untokenized"))
            .when(
                F.col("endpoint") == "weblicht/recognize", F.lit("conllu")
            )
            .otherwise(F.coalesce(F.col("input"), F.lit("untokenized"))),
        )
        .withColumn(
            "output",
            F.when(
                F.col("endpoint") == "weblicht/recognize", F.lit("conllu-ne")
            ).otherwise(F.coalesce(F.col("output"), F.lit("xml"))),
        )
        .join(aliases, F.col("model_req") == aliases["alias"], "left")
    )

    # validation cascade — reference order and texts (do_GET)
    err = (
        F.when(
            F.octet_length(F.coalesce(F.col("data"), F.lit(""))) > max_request_size,
            F.struct(
                F.lit(413).alias("status"),
                F.lit(
                    "The request is too large (HTTP 413).\n\nFix: Split your "
                    "input on sentence boundaries into smaller\nparts and send "
                    "each part as a separate request,\nthen concatenate the "
                    "results.\n"
                ).alias("message"),
            ),
        )
        .when(
            F.col("data").isNull(),
            F.struct(
                F.lit(400).alias("status"),
                F.lit("The parameter 'data' is required.").alias("message"),
            ),
        )
        .when(
            F.col("canonical").isNull(),
            F.struct(
                F.lit(400).alias("status"),
                F.concat(
                    F.lit("The requested model '"),
                    F.col("model_req"),
                    F.lit("' does not exist."),
                ).alias("message"),
            ),
        )
        .when(
            ~F.col("input").isin(*VALID_INPUTS),
            F.struct(
                F.lit(400).alias("status"),
                F.concat(
                    F.lit("The requested input '"),
                    F.col("input"),
                    F.lit("' does not exist."),
                ).alias("message"),
            ),
        )
        .when(
            (
                (F.col("endpoint") == "tokenize")
                & ~F.col("output").isin(*BASE_OUTPUTS)
            )
            | ~F.col("output").isin(*RECOGNIZE_OUTPUTS),
            F.struct(
                F.lit(400).alias("status"),
                F.concat(
                    F.lit("The requested output '"),
                    F.col("output"),
                    F.lit("' does not exist."),
                ).alias("message"),
            ),
        )
    )
    req = req.withColumn("_err", err)

    errors = req.where(F.col("_err").isNotNull()).select(
        "request_id",
        F.col("_err.status").alias("status"),
        F.lit("text/plain").alias("content_type"),
        F.lit(None).cast("bigint").alias("billing_nfc_len"),
        F.lit(None).cast("string").alias("model"),
        F.lit(None).cast("int").alias("n_sentences"),
        F.lit(None).cast("int").alias("n_entities"),
        F.col("_err.message").alias("body"),
    )

    # metadata columns ride THROUGH the fused pass and come back out, so
    # no post-scoring join is needed — the whole valid path is one Python
    # stage with zero shuffles, whatever the number of models. (Measured:
    # a narrow-input repartition before the Python stage is a net LOSS
    # here — the 200-request pass itself is ~0.3s, and the `.rdd`
    # narrowness probe re-plans the whole validation subtree, costing
    # seconds cold. A deployment feeding a huge single-file
    # request batch should repartition upstream of this call.)
    ok = (
        req.where(F.col("_err").isNull())
        .select(
            "request_id", "data", "input", "output", "endpoint",
            "canonical", "acknowledgements", "scorer",
        )
        .mapInPandas(_serve_batches, schema=_SERVE_SCHEMA)
    )

    is_weblicht = F.col("endpoint") == "weblicht/recognize"
    result_with_header = F.when(
        (F.col("output") == "conllu-ne") & ~is_weblicht,
        F.concat(
            F.lit(
                "# generator = NameTag 3, "
                "https://lindat.mff.cuni.cz/services/nametag\n"
            ),
            F.lit("# nametag_model = "), F.col("canonical"), F.lit("\n"),
            F.lit("# nametag_model_licence = CC BY-NC-SA\n"),
            F.col("result"),
        ),
    ).otherwise(F.col("result"))

    body = F.when(is_weblicht, F.col("result")).otherwise(
        F.to_json(
            F.struct(
                F.col("canonical").alias("model"),
                F.array(
                    F.lit(ACK_URL), F.col("acknowledgements")
                ).alias("acknowledgements"),
                result_with_header.alias("result"),
            )
        )
    )
    ok = ok.select(
        "request_id",
        F.lit(200).alias("status"),
        F.when(is_weblicht, F.lit("application/conllu"))
        .otherwise(F.lit("application/json"))
        .alias("content_type"),
        "billing_nfc_len",
        F.col("canonical").alias("model"),
        "n_sentences",
        "n_entities",
        body.alias("body"),
    )
    return ok.unionByName(errors)
