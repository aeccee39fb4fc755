"""Committed golden for the fuzzy (MinHash-LSH) linking tier.

The golden triples link with ``fuzzy=False`` and the synth mentions all
match the gazetteer exactly, so neither pins the LSH path. This test
perturbs half the surfaces (the fixture of
``test_pipeline.py::test_link_mentions_best_broadcast_guard_plans``) so
they miss the exact join, and pins every mention's link row byte-for-byte:
any drift in shingling, signatures, banding or Jaccard verification
fails with a diff.

Regenerate (only after an INTENDED semantic change) with:

    PYTHONPATH=. python tests/test_golden_fuzzy_links.py

which rewrites tests/golden_fuzzy_links.json from the current code.
"""

from __future__ import annotations

import json
import pathlib

from pyspark.sql import functions as F

GOLDEN = pathlib.Path(__file__).parent / "golden_fuzzy_links.json"
N_CONVS, AVG_TURNS = 30, 8
COLS = ["conv_id", "turn_idx", "mention_norm", "entity_id", "link_method"]


def _current_links(spark) -> list[list]:
    from nametag3_spark.data.synth import gazetteer_df, synth_transcripts
    from nametag3_spark.operators.infer import annotate_turns
    from nametag3_spark.operators.linking import link_mentions
    from nametag3_spark.operators.triples import extract_mentions

    transcripts = synth_transcripts(spark, n_convs=N_CONVS, avg_turns=AVG_TURNS)
    mentions = extract_mentions(annotate_turns(transcripts, scorer="oracle"))
    mentions = mentions.withColumn(
        "mention_norm",
        F.when(
            F.crc32(F.col("mention_norm")) % 2 == 0,
            F.concat(F.col("mention_norm"), F.lit("x")),
        ).otherwise(F.col("mention_norm")),
    )
    linked = link_mentions(mentions, gazetteer_df(spark), fuzzy=True)
    rows = [
        [r["conv_id"], int(r["turn_idx"]), r["mention_norm"], r["entity_id"],
         r["link_method"]]
        for r in linked.select(*COLS).collect()
    ]
    return sorted(rows, key=lambda r: [("" if v is None else v) for v in r])


def test_fuzzy_links_match_committed_golden(spark):
    expected = json.loads(GOLDEN.read_text())
    methods = [r[4] for r in expected]
    assert "lsh" in methods and None in methods
    assert _current_links(spark) == expected


if __name__ == "__main__":
    from nametag3_spark.session import get_spark

    rows = _current_links(get_spark(master="local[4]", shuffle_partitions=8))
    GOLDEN.write_text(json.dumps(rows, ensure_ascii=False, indent=0))
    print(f"wrote {len(rows)} golden fuzzy-link rows to {GOLDEN}")
