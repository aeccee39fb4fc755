"""Committed golden-triples snapshot (SURVEY.md §5 item 5): the full
pipeline's output for a fixed seeded input is pinned byte-for-byte, so
ANY behavior drift anywhere in tokenize → score → decode → link →
canonicalize → emit fails this test with a diff.

Regenerate (only after an INTENDED semantic change) with:

    PYTHONPATH=. python tests/test_golden_triples.py

which rewrites tests/golden_triples.json from the current code.
"""

from __future__ import annotations

import json
import pathlib

GOLDEN = pathlib.Path(__file__).parent / "golden_triples.json"
N_CONVS, AVG_TURNS = 6, 5


def _current_triples(spark) -> list[list]:
    from nametag3_spark.data.synth import synth_transcripts
    from nametag3_spark.pipeline import kg_dataflow

    t = synth_transcripts(spark, n_convs=N_CONVS, avg_turns=AVG_TURNS)
    triples = kg_dataflow(t, fuzzy=False)["triples"]
    return sorted(
        [r["subj"], r["pred"], r["obj"], r["conv_id"], int(r["turn_idx"])]
        for r in triples.collect()
    )


def test_pipeline_triples_match_committed_golden(spark):
    got = _current_triples(spark)
    expected = json.loads(GOLDEN.read_text())
    assert len(got) > 0
    assert got == expected


if __name__ == "__main__":
    from nametag3_spark.session import get_spark

    rows = _current_triples(get_spark(master="local[4]", shuffle_partitions=8))
    GOLDEN.write_text(json.dumps(rows, ensure_ascii=False, indent=0))
    print(f"wrote {len(rows)} golden triples to {GOLDEN}")
