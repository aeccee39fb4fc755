"""CoNLL vertical-file source and the reference's output renderers.

S1 (nametag3_dataset.py:161-241): a vertical file is ``form\\tlabel``
lines, sentences separated by blank lines, documents delimited by
``-DOCSTART-`` marker lines. Re-expressed relationally:

* line stream with a stable line_id (``zipWithIndex`` semantics via a
  window over the file order — for multi-file reads the order key is
  (file, line offset));
* sentence id = running sum of blank-line flags (W1);
* doc id = running sum of DOCSTART flags, carried forward (W2/P2);
* token_idx = row_number within sentence.

Sinks (format renderers): vertical one-entity-per-line (S10 — the triple
emitter's ancestor), inline XML (S9), CoNLL-U with NE in MISC (S8).
These are per-sentence string builds over the decoded spans — derived
from the ONE decode automaton, not re-implemented scanners.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nametag3_spark.operators.decode import decode_spans

CONLL_SCHEMA = (
    "doc_id int, sent_idx int, token_idx int, form string, label string"
)


def read_conll(spark: SparkSession, path: str) -> DataFrame:
    """Vertical CoNLL file → (doc_id, sent_idx, token_idx, form, label).

    NOTE on scale: a single text file is one input split; the window over
    the whole file forces one task for the grouping pass — inherent to
    the format (line N's sentence depends on every prior line). The
    production input is the transcripts table; this source exists for
    reference-parity corpora, which are small. For multi-file corpora the
    windows partition per file (S3) and parallelize across files.
    """
    lines = spark.read.text(path).select(
        F.col("value"),
        F.input_file_name().alias("_file"),
        F.monotonically_increasing_id().alias("line_id"),
    )
    # windows partition PER FILE (S3 multi-corpus scan): each file's
    # grouping pass is one task, files parallelize across executors;
    # monotonically_increasing_id is line-ordered within a file split
    w = Window.partitionBy("_file").orderBy("line_id")
    is_blank = (F.trim(F.col("value")) == "").cast("int")
    is_docstart = F.col("value").startswith("-DOCSTART-").cast("int")
    parsed = (
        lines.withColumn("doc_in_file", F.sum(is_docstart).over(w))
        .withColumn("sent_break", is_blank + is_docstart)
        .withColumn("sent_id", F.sum("sent_break").over(w))
        .where((is_blank == 0) & (is_docstart == 0))
        # doc_id globally unique across files: dense rank over (file, doc)
        .withColumn(
            "doc_id",
            F.dense_rank().over(Window.orderBy("_file", "doc_in_file")) - 1,
        )
    )
    # dense sentence index within doc + token index within sentence
    w_sent = Window.partitionBy("doc_id").orderBy("sent_id")
    w_tok = Window.partitionBy("doc_id", "sent_id").orderBy("line_id")
    return (
        parsed.withColumn("token_idx", F.row_number().over(w_tok) - 1)
        .withColumn("sent_idx", (F.dense_rank().over(w_sent) - 1))
        .select(
            F.col("doc_id").cast("int"),
            F.col("sent_idx").cast("int"),
            F.col("token_idx").cast("int"),
            F.split(F.col("value"), "\t").getItem(0).alias("form"),
            F.coalesce(F.split(F.col("value"), "\t").getItem(1), F.lit("O")).alias(
                "label"
            ),
        )
    )


def write_conll(sentences: DataFrame, path: str) -> None:
    """S6: prediction sink — sentences (forms/labels arrays) rendered back
    to vertical 'form\\tlabel' blocks with blank-line separators, one text
    file per partition."""
    rendered = sentences.select(
        "doc_id",
        "sent_idx",
        F.concat(
            F.array_join(
                F.zip_with(
                    F.col("forms"),
                    F.col("labels"),
                    lambda f, l: F.concat(f, F.lit("\t"), l),
                ),
                "\n",
            ),
            F.lit("\n"),
        ).alias("block"),
    )
    rendered.orderBy("doc_id", "sent_idx").select("block").write.mode(
        "overwrite"
    ).text(path)


def conll_to_sentences(conll: DataFrame) -> DataFrame:
    """Token rows → one row per sentence with forms/labels arrays
    (ordered by token_idx via sort_array on (idx, value) structs)."""
    return (
        conll.groupBy("doc_id", "sent_idx")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("token_idx", "form", "label"))
            ).alias("toks")
        )
        .select(
            "doc_id",
            "sent_idx",
            F.col("toks.form").alias("forms"),
            F.col("toks.label").alias("labels"),
        )
    )


def sentence_spans(sentences: DataFrame) -> DataFrame:
    """Decode each sentence's label stacks into entity spans + surface."""
    @F.pandas_udf(
        "array<struct<label string, start_tok int, end_tok int, surface string>>"
    )
    def decode_with_surface(forms: pd.Series, labels: pd.Series) -> pd.Series:
        out = []
        for fs, ls in zip(forms, labels):
            fs = list(fs) if fs is not None else []
            spans = decode_spans(list(ls) if ls is not None else [])
            out.append(
                [
                    {
                        "label": t,
                        "start_tok": s,
                        "end_tok": e,
                        "surface": " ".join(fs[s : e + 1]),
                    }
                    for t, s, e in spans
                ]
            )
        return pd.Series(out)

    return sentences.withColumn(
        "spans", decode_with_surface(F.col("forms"), F.col("labels"))
    )


def render_vertical(sentences_with_spans: DataFrame) -> DataFrame:
    """S10: one entity per line ``token_ids \\t TYPE \\t surface``
    (token ids are 1-based positions, comma-joined — the
    conll2eval_nested.py output contract)."""
    ex = sentences_with_spans.select(
        "doc_id", "sent_idx", F.explode("spans").alias("m")
    )
    ids = F.array_join(
        F.transform(
            F.sequence(F.col("m.start_tok") + 1, F.col("m.end_tok") + 1),
            lambda i: i.cast("string"),
        ),
        ",",
    )
    return ex.select(
        "doc_id",
        "sent_idx",
        F.concat_ws(
            "\t", ids, F.col("m.label"), F.col("m.surface")
        ).alias("line"),
    )


# ---------------------------------------------------------------------------
# Pure per-sentence renderers. The pandas_udf wrappers below AND the batch
# request-serving pass (serving.py) share these, so every output surface
# emits byte-identical markup from one implementation.
# ---------------------------------------------------------------------------


def _esc_xml(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;")
        .replace(">", "&gt;").replace('"', "&quot;")
    )


def xml_sentence(forms, spans) -> str:
    """One sentence's inline <sentence><ne type=..><token>..</token></ne>
    markup (S9; server conll_to_xml contract, nametag3_server.py:330-420)."""
    fs = list(forms) if forms is not None else []
    sp = sorted(
        (list(spans) if spans is not None else []),
        key=lambda m: (m["start_tok"], -m["end_tok"]),
    )
    opens: dict[int, list] = {}
    closes: dict[int, int] = {}
    for m in sp:
        opens.setdefault(m["start_tok"], []).append(m["label"])
        closes[m["end_tok"]] = closes.get(m["end_tok"], 0) + 1
    parts = ["<sentence>"]
    for i, form in enumerate(fs):
        for lab in opens.get(i, []):
            parts.append(f'<ne type="{_esc_xml(lab)}">')
        parts.append(f"<token>{_esc_xml(form)}</token>")
        parts.extend(["</ne>"] * closes.get(i, 0))
    parts.append("</sentence>")
    return "".join(parts)


def conllu_sentence(forms, spans) -> str:
    """One sentence's CoNLL-U lines with nested NE stacked in MISC=NE=...
    (S8; weblicht convention of conll_to_conllu,
    nametag3_server.py:207-275)."""
    fs = list(forms) if forms is not None else []
    per_tok: list[list[str]] = [[] for _ in fs]
    for m in sorted(
        (list(spans) if spans is not None else []),
        key=lambda m: (m["start_tok"], -m["end_tok"]),
    ):
        for i in range(m["start_tok"], m["end_tok"] + 1):
            per_tok[i].append(
                ("B-" if i == m["start_tok"] else "I-") + m["label"]
            )
    lines = []
    for i, form in enumerate(fs):
        misc = "NE=" + "-".join(per_tok[i]) if per_tok[i] else "_"
        lines.append(f"{i + 1}\t{form}\t_\t_\t_\t_\t_\t_\t_\t{misc}")
    return "\n".join(lines)


def vertical_entity_lines(spans, surfaces, token_offset: int = 0) -> list:
    """One sentence's vertical entity lines ``ids \\t TYPE \\t surface``
    with 1-based token ids shifted by ``token_offset`` — the server keeps
    a RUNNING token counter across a request's sentences
    (conll_to_vertical's n_tokens_in_batches, nametag3_server.py:300-328)."""
    out = []
    for m, surface in zip(spans or [], surfaces or []):
        ids = ",".join(
            str(token_offset + i + 1)
            for i in range(m["start_tok"], m["end_tok"] + 1)
        )
        out.append(f"{ids}\t{m['label']}\t{surface}")
    return out


def render_xml(sentences_with_spans: DataFrame) -> DataFrame:
    """S9: inline <sentence><ne type=..><token>..</token></ne> markup.

    Per-sentence string build in a pandas UDF (format-only operator)."""
    @F.pandas_udf("string")
    def to_xml(forms: pd.Series, spans: pd.Series) -> pd.Series:
        return pd.Series(
            [xml_sentence(fs, sp) for fs, sp in zip(forms, spans)]
        )

    return sentences_with_spans.select(
        "doc_id", "sent_idx", to_xml(F.col("forms"), F.col("spans")).alias("xml")
    )


def render_conllu(sentences_with_spans: DataFrame) -> DataFrame:
    """S8: CoNLL-U lines with nested NE encoded in MISC=NE=... —
    entities stacked outermost-first, joined by '-' per the weblicht
    convention in conll_to_conllu (nametag3_server.py:207-275)."""
    @F.pandas_udf("string")
    def to_conllu(forms: pd.Series, spans: pd.Series) -> pd.Series:
        return pd.Series(
            [conllu_sentence(fs, sp) for fs, sp in zip(forms, spans)]
        )

    return sentences_with_spans.select(
        "doc_id",
        "sent_idx",
        to_conllu(F.col("forms"), F.col("spans")).alias("conllu"),
    )
