"""Batch request-serving surface (serving.py) vs the reference server's
request semantics (nametag3_server.py:455-717): alias resolution,
validation codes/texts, billing, per-format rendering, weblicht path."""

from __future__ import annotations

import json

import pytest

from nametag3_spark.serving import (
    ModelRegistry,
    expand_aliases,
    process_requests,
)

REQ_SCHEMA = (
    "request_id string, endpoint string, data string, model string, "
    "input string, output string"
)


@pytest.fixture(scope="module")
def registry() -> ModelRegistry:
    reg = ModelRegistry()
    reg.register(
        "nametag3-multilingual-250203:nametag3-english",
        scorer="oracle",
        tagset="conll",
        acknowledgements="ack-multilingual",
    )
    reg.register(
        "nametag3-czech-cnec2.0", scorer="oracle", acknowledgements="ack-czech"
    )
    return reg


def serve(spark, registry, rows):
    df = spark.createDataFrame(rows, REQ_SCHEMA)
    out = process_requests(df, registry)
    return {r["request_id"]: r.asDict() for r in out.collect()}


def test_alias_expansion_matches_reference_expression():
    # reference: names = [name.split("-") for name in names];
    # ["-".join(parts[:None if not i else -i]) for parts in names
    #  for i in range(len(parts))]   (nametag3_server.py:430-433)
    for name in ("nametag3-multilingual-250203", "a", "a-b"):
        parts = name.split("-")
        ref = ["-".join(parts[: None if not i else -i]) for i in range(len(parts))]
        assert expand_aliases(name) == ref


def test_registry_first_registration_wins(registry):
    rows = {alias: model.canonical for alias, model in registry.aliases.items()}
    # "nametag3" is a prefix alias of BOTH models; the first registered wins
    assert rows["nametag3"] == "nametag3-multilingual-250203"
    assert rows["nametag3-czech-cnec2.0"] == "nametag3-czech-cnec2.0"
    assert rows["nametag3-english"] == "nametag3-multilingual-250203"
    assert registry.default_model == "nametag3-multilingual-250203"


def test_validation_errors_and_isolation(spark, registry):
    out = serve(
        spark,
        registry,
        [
            ("bad_model", "recognize", "John went home .", "no-such", None, None),
            ("bad_input", "recognize", "x", None, "weird", None),
            ("bad_output", "recognize", "x", None, None, "weird"),
            ("tok_bad_output", "tokenize", "x", None, None, "conll"),
            ("no_data", "recognize", None, None, None, None),
            ("huge", "recognize", "x" * (4096 * 1024 + 1), None, None, None),
            ("ok", "recognize", "John met Mary .", None, None, "vertical"),
        ],
    )
    assert out["bad_model"]["status"] == 400
    assert out["bad_model"]["body"] == "The requested model 'no-such' does not exist."
    assert out["bad_input"]["status"] == 400
    assert "input 'weird' does not exist" in out["bad_input"]["body"]
    assert out["bad_output"]["status"] == 400
    # conll output is valid for /recognize but NOT for /tokenize
    assert out["tok_bad_output"]["status"] == 400
    assert out["no_data"]["status"] == 400
    assert out["no_data"]["body"] == "The parameter 'data' is required."
    assert out["huge"]["status"] == 413
    assert "too large" in out["huge"]["body"]
    assert out["ok"]["status"] == 200
    assert "John Smith" not in out["ok"]["body"]  # greedy matched "John" alone
    assert "PER" in out["ok"]["body"]


def test_empty_registry_rejected_on_driver(spark):
    """A registry with no model has no default to fall back on, so a
    request with a null model could only get an error without a text:
    the call fails on the driver instead, before any plan is built."""
    df = spark.createDataFrame(
        [("r1", "recognize", "Paris .", None, None, None)], REQ_SCHEMA
    )
    with pytest.raises(ValueError, match="registered model"):
        process_requests(df, ModelRegistry())


def test_recognize_xml_nested_and_envelope(spark, registry):
    out = serve(
        spark,
        registry,
        [("r1", "recognize", "John Smith visited Bank of New York .", None, None, "xml")],
    )
    r = out["r1"]
    assert r["status"] == 200
    assert r["content_type"] == "application/json"
    assert r["model"] == "nametag3-multilingual-250203"
    envelope = json.loads(r["body"])
    assert envelope["model"] == "nametag3-multilingual-250203"
    assert envelope["acknowledgements"][1] == "ack-multilingual"
    result = envelope["result"]
    assert '<ne type="ORG">' in result and '<ne type="LOC">' in result
    assert "<token>John</token>" in result
    # nested LOC sits inside the ORG markup
    assert result.index('<ne type="ORG">') < result.index('<ne type="LOC">')
    # billing counts NFC word chars, not whitespace
    assert r["billing_nfc_len"] == len("JohnSmithvisitedBankofNewYork.")


def test_vertical_output_uses_request_global_token_ids(spark, registry):
    data = "Filler words here .\nMary Jones arrived ."
    out = serve(
        spark, registry, [("r1", "recognize", data, None, None, "vertical")]
    )
    body = json.loads(out["r1"]["body"])["result"]
    # sentence 1 has 4 tokens; "Mary Jones" is tokens 5,6 of the REQUEST
    assert body == "5,6\tPER\tMary Jones\n"
    assert out["r1"]["n_sentences"] == 2


def test_weblicht_raw_conllu_and_multiword_skip(spark, registry):
    conllu = (
        "# sent_id = 1\n"
        "1-2\tvámonos\t_\t_\t_\t_\t_\t_\t_\t_\n"
        "1\tvamos\t_\t_\t_\t_\t_\t_\t_\t_\n"
        "2\tnos\t_\t_\t_\t_\t_\t_\t_\t_\n"
        "3\tParis\t_\t_\t_\t_\t_\t_\t_\t_\n"
    )
    out = serve(
        spark,
        registry,
        [("w1", "weblicht/recognize", conllu, None, None, None)],
    )
    r = out["w1"]
    assert r["status"] == 200
    assert r["content_type"] == "application/conllu"
    # raw CoNLL-U (no JSON envelope), multiword surface emitted ONCE
    lines = r["body"].strip().split("\n")
    assert lines[0].startswith("1\tvámonos")
    assert lines[1].startswith("2\tParis")
    assert "NE=B-LOC" in lines[1]
    # billing counts the WORD lines (vamos+nos+Paris), not the surface form
    assert r["billing_nfc_len"] == len("vamos") + len("nos") + len("Paris")


def test_conllu_ne_json_endpoint_gets_generator_header(spark, registry):
    out = serve(
        spark,
        registry,
        [("r1", "recognize", "Paris .", None, None, "conllu-ne")],
    )
    result = json.loads(out["r1"]["body"])["result"]
    assert result.startswith("# generator = NameTag 3")
    assert "# nametag_model = nametag3-multilingual-250203\n" in result
    assert "NE=B-LOC" in result


def test_tokenize_endpoint_skips_the_model(spark, registry):
    out = serve(
        spark,
        registry,
        [("t1", "tokenize", "John Smith visited Paris .", None, None, "xml")],
    )
    r = out["t1"]
    assert r["status"] == 200
    result = json.loads(r["body"])["result"]
    assert "<ne" not in result  # no recognition on /tokenize
    assert "<token>John</token>" in result
    assert r["n_entities"] == 0


def test_empty_data_yields_valid_empty_output(spark, registry):
    out = serve(spark, registry, [("e1", "recognize", "", None, None, "xml")])
    r = out["e1"]
    assert r["status"] == 200
    assert json.loads(r["body"])["result"] == ""
    assert r["n_sentences"] == 0
    assert r["billing_nfc_len"] == 0


def test_vertical_input_format(spark, registry):
    data = "John\nSmith\n\nParis\n"
    out = serve(
        spark,
        registry,
        [("v1", "recognize", data, None, "vertical", "vertical")],
    )
    body = json.loads(out["v1"]["body"])["result"]
    assert body == "1,2\tPER\tJohn Smith\n3\tLOC\tParis\n"
    assert out["v1"]["n_sentences"] == 2


def test_conll_output_pipe_stacks_nested_labels(spark, registry):
    out = serve(
        spark,
        registry,
        [("c1", "recognize", "Bank of New York .", None, None, "conll")],
    )
    result = json.loads(out["c1"]["body"])["result"]
    assert result == (
        "Bank\tB-ORG\nof\tI-ORG\nNew\tI-ORG|B-LOC\nYork\tI-ORG|I-LOC\n.\tO\n"
    )


def test_requests_dispatch_per_scorer_key(spark, tmp_path):
    """Two models registered under DIFFERENT scorer keys → one fused pass
    per key (the union path), each request labeled by the model its
    resolved alias registered — the server's models_by_paths sharing
    semantics (nametag3_server.py:437-444)."""
    from test_hf_adapter import FAKE_TORCH, FAKE_TRANSFORMERS

    d = tmp_path / "fake_hf"
    d.mkdir()
    (d / "torch.py").write_text(FAKE_TORCH)
    (d / "transformers.py").write_text(FAKE_TRANSFORMERS)
    for fname in ("torch.py", "transformers.py"):
        spark.sparkContext.addPyFile(str(d / fname))

    reg = ModelRegistry()
    reg.register("gaz-model", scorer="oracle")
    reg.register("cap-model", scorer="hf:fake-ckpt")
    reqs = spark.createDataFrame(
        [
            ("g1", "recognize", "Globex meeting today .", "gaz-model", None, "vertical"),
            ("h1", "recognize", "Globex meeting today .", "cap-model", None, "vertical"),
        ],
        REQ_SCHEMA,
    )
    out = {
        r["request_id"]: r.asDict()
        for r in process_requests(reqs, reg).collect()
    }
    # same data, different models: the gazetteer knows Globex is an ORG;
    # the fake transformer tags every capitalized word B-PER
    assert json.loads(out["g1"]["body"])["result"] == "1\tORG\tGlobex\n"
    assert json.loads(out["h1"]["body"])["result"] == "1\tPER\tGlobex\n"
    assert out["g1"]["model"] == "gaz-model"
    assert out["h1"]["model"] == "cap-model"


def test_model_alias_resolves_to_same_canonical(spark, registry):
    out = serve(
        spark,
        registry,
        [
            ("a1", "recognize", "Paris .", "nametag3", None, "vertical"),
            ("a2", "recognize", "Paris .", "nametag3-english", None, "vertical"),
        ],
    )
    assert out["a1"]["model"] == out["a2"]["model"] == "nametag3-multilingual-250203"
    assert out["a1"]["body"] == out["a2"]["body"]


# ------------------------------------------------------- parser properties

def test_vertical_parse_roundtrip_property():
    """Property: rendering token lists as vertical input (one token per
    line, blank line between sentences) and parsing back is identity —
    for any non-empty tokens without embedded whitespace."""
    from hypothesis import given, strategies as st

    from nametag3_spark.serving import _parse_sentences

    token = st.text(
        alphabet=st.characters(blacklist_categories=("Zs", "Cc", "Cs")),
        min_size=1,
        max_size=8,
    )
    sentences = st.lists(
        st.lists(token, min_size=1, max_size=6), min_size=0, max_size=5
    )

    @given(sentences)
    def check(sents):
        data = "\n\n".join("\n".join(s) for s in sents)
        assert _parse_sentences(data, "vertical") == sents

    check()


def test_conllu_billing_excludes_surface_forms():
    """Property: for any conllu block with a multiword range, billing
    counts the word lines, never the surface form (ref :604)."""
    from nametag3_spark.serving import _billing_chars, _parse_sentences

    block = (
        "1-2\tSURFACEFORM\t_\n"
        "1\tab\t_\n"
        "2\tcde\t_\n"
        "3\tf\t_\n"
    )
    assert _billing_chars(block, "conllu") == len("ab") + len("cde") + len("f")
    # while the token list DOES use the surface form once
    assert _parse_sentences(block, "conllu") == [["SURFACEFORM", "f"]]


def test_split_sentences_udpipe_lite():
    """Deterministic sentence segmentation (UDPipe-lite): boundaries at
    [.!?]+whitespace+uppercase/digit/quote opener; abbreviations,
    single-letter initials, and interior decimals never split; errs
    toward not splitting."""
    from nametag3_spark.functions.text import split_sentences

    assert split_sentences("Hello there. How are you?") == [
        "Hello there.", "How are you?",
    ]
    # abbreviation + initial guards
    assert split_sentences("Dr. Smith met J. Jones.") == [
        "Dr. Smith met J. Jones.",
    ]
    assert split_sentences("See Fig. 3 for details.") == [
        "See Fig. 3 for details.",
    ]
    # interior decimal, lowercase continuation → no split
    assert split_sentences("Pi is 3.14 exactly. we said so") == [
        "Pi is 3.14 exactly. we said so",
    ]
    # closing quote stays with the left sentence
    assert split_sentences('He said "stop." Then left.') == [
        'He said "stop."', "Then left.",
    ]
    assert split_sentences("") == []
    assert split_sentences("   ") == []


def test_untokenized_requests_segment_multisentence_lines():
    """The untokenized serving path must split sentences WITHIN a line
    (the reference's UDPipe does; one-line-one-sentence was the round-3
    approximation). Token content is unchanged — only the grouping."""
    from nametag3_spark.serving import _billing_chars, _parse_sentences

    data = "John visited Paris. Mary stayed home.\nSecond line here"
    sents = _parse_sentences(data, "untokenized")
    assert sents == [
        ["John", "visited", "Paris", "."],
        ["Mary", "stayed", "home", "."],
        ["Second", "line", "here"],
    ]
    # billing is over word forms and must be grouping-invariant
    flat = "John visited Paris. Mary stayed home. Second line here"
    assert _billing_chars(data, "untokenized") == _billing_chars(
        flat, "untokenized"
    )
