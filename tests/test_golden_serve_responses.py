"""Committed golden for the serving surface's response rows.

``serve_requests`` pins only ``length(body)`` and ``serve_status`` only
the validation columns, so neither sees a change to the rendered bodies
or the envelope. This test pins every column of the 200 sf0.01
``_serve_responses`` rows (the request batch the two entry queries
share), with ``body`` stored as its sha256: any drift in validation,
billing, parsing, scoring, rendering or the response envelope fails with
a diff.

Regenerate (only after an INTENDED semantic change) with:

    PYTHONPATH=. python tests/test_golden_serve_responses.py

which rewrites tests/golden_serve_responses.json from the current code.
"""

from __future__ import annotations

import hashlib
import json
import pathlib

from test_plans import SF as SF_SMOKE

GOLDEN = pathlib.Path(__file__).parent / "golden_serve_responses.json"
# the sf0.01 tables (the oracle-check scale) sit next to the smoke ones
SF = str(pathlib.Path(SF_SMOKE).parent / "sf0.01")
COLS = [
    "request_id", "status", "content_type", "billing_nfc_len", "model",
    "n_sentences", "n_entities",
]


def _current_responses(spark) -> list[list]:
    import __spark_entry__ as E

    rows = [
        [r[c] for c in COLS]
        + [
            None if r["body"] is None
            else hashlib.sha256(r["body"].encode("utf-8")).hexdigest()
        ]
        for r in E._serve_responses(spark, SF).collect()
    ]
    return sorted(rows, key=lambda r: r[0])


def test_serve_responses_match_committed_golden(spark):
    expected = json.loads(GOLDEN.read_text())
    assert len(expected) == 200
    assert {r[1] for r in expected} == {200, 400}
    assert _current_responses(spark) == expected


if __name__ == "__main__":
    from nametag3_spark.session import get_spark

    rows = _current_responses(get_spark(master="local[4]", shuffle_partitions=8))
    GOLDEN.write_text(json.dumps(rows, ensure_ascii=False, indent=0))
    print(f"wrote {len(rows)} golden serving rows to {GOLDEN}")
