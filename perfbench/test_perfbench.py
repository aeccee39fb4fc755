"""Tests of the benchmark's own parts that need no Spark session:
the event-log parser on a small recorded log, and the output checks,
which must count a deliberately corrupted output as a failed operation.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
from collections import Counter
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import checks  # noqa: E402
from eventlog import EventLog  # noqa: E402
from layers import LINEAGE_CALL_SITE, pipeline_layers, stream_layers  # noqa: E402

FIXTURE = HERE / "fixtures" / "eventlog"


def _raw_events() -> list[dict]:
    return [
        json.loads(line)
        for f in sorted(FIXTURE.rglob("events_*"))
        for line in f.read_text().splitlines()
        if line.strip()
    ]


def test_parser_groups_jobs_and_tasks_by_span():
    raw = _raw_events()
    log = EventLog.parse(FIXTURE)
    spans = log.spans(lambda p: p.get("perfbench.span"))
    # every job of the recorded log carries a span, stream epoch or neither;
    # recompute the expected figures straight from the raw events
    for name, span in spans.items():
        starts = [e for e in raw if e["Event"] == "SparkListenerJobStart"
                  and e.get("Properties", {}).get("perfbench.span") == name]
        assert len(span.jobs) == len(starts)
        stage_ids = {e["Stage Info"]["Stage ID"] for e in raw
                     if e["Event"] == "SparkListenerStageSubmitted"
                     and e.get("Properties", {}).get("perfbench.span") == name}
        tasks = [e for e in raw if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stage_ids]
        run_s = sum(t["Task Metrics"]["Executor Run Time"] for t in tasks) / 1000.0
        shuffle = sum(t["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in tasks)
        assert abs(span.task_s - run_s) < 1e-9
        assert abs(span.shuffle_write_mb * 1024 * 1024 - shuffle) < 1e-6
    assert {"cold:rejected", "cold:triples"} <= set(spans)


def test_lineage_jobs_are_found_by_call_site():
    log = EventLog.parse(FIXTURE)
    span = log.spans(lambda p: p.get("perfbench.span"))["cold:triples"]
    lineage = [j for j in span.jobs if LINEAGE_CALL_SITE.search(j.call_site)]
    assert lineage, "the recorded triples span holds the manifest's re-scan job"
    assert span.job_wall_s(LINEAGE_CALL_SITE) == sum(j.end - j.start for j in lineage)
    layers = pipeline_layers({"spans": {"cold": {"triples": 1.0}}}, log)
    assert layers["pipeline.triples.jobs"] == len(span.jobs)
    assert layers["pipeline.triples.lineage_s"] > 0
    assert layers["pipeline.labeled.jobs"] == 0  # not in the recorded slice


def test_stream_epochs_are_grouped_by_query_and_batch_id():
    log = EventLog.parse(FIXTURE)
    qids = {j.props.get("sql.streaming.queryId") for j in log.jobs.values()} - {None}
    assert len(qids) == 1
    out = stream_layers({"stream_query_id": qids.pop()}, log)
    epochs = {j.props["streaming.sql.batchId"] for j in log.jobs.values()
              if "streaming.sql.batchId" in j.props}
    n_jobs = sum(1 for j in log.jobs.values() if "streaming.sql.batchId" in j.props)
    assert out["stream.jobs_per_epoch"] == n_jobs / len(epochs)
    assert out["stream.task_s_per_epoch"] > 0
    assert stream_layers({"stream_query_id": "another-query"}, log)["stream.jobs_per_epoch"] == 0


def test_skew_is_max_over_median_task_time():
    from eventlog import Stage

    assert Stage({}, run_s=[1.0, 1.0, 4.0]).skew() == 4.0
    assert Stage({}, run_s=[2.0]).skew() == 1.0


# --- a corrupted output is counted as failed ---------------------------------


def test_ledger_counts_exceptions_and_failed_checks_once():
    ops = checks.Ops()
    assert ops.run("ok", lambda: 1, lambda v: None) == 1
    assert ops.run("boom", lambda: 1 / 0) is None
    assert ops.run("bad output", lambda: 2, lambda v: "wrong") is None
    assert ops.run("check raises", lambda: 3, lambda v: {}["missing"]) is None
    assert (ops.attempted, ops.failed) == (4, 3)


def _spans(rows):
    return pd.DataFrame(rows, columns=checks.SPAN_KEYS)


def test_corrupted_mentions_fail_the_span_check():
    gold = _spans([("c", t, 0, 1, "PER") for t in range(100)])
    assert checks.check_spans(*checks.span_pr(gold, gold)) is None
    corrupted = gold.copy()
    corrupted.loc[:9, "label"] = "ORG"  # 10% of spans mislabeled
    p, r = checks.span_pr(corrupted, gold)
    assert (p, r) == (0.9, 0.9)
    ops = checks.Ops()
    ops.run("pipeline_run", lambda: corrupted, lambda m: checks.check_spans(*checks.span_pr(m, gold)))
    assert ops.failed == 1


def test_manifest_and_resume_checks():
    manifests = {"triples": {"row_count": 10}}
    assert checks.check_manifests(manifests, {"triples": 10}) is None
    assert checks.check_manifests(manifests, {"triples": 9})
    stages = ["a", "b"]
    assert checks.check_resume(["a", "b"], [], stages) is None
    assert checks.check_resume(["a"], ["b"], stages)


def test_stream_multiset_catches_a_dropped_or_duplicated_triple():
    frame = pd.DataFrame({"pred": ["rdf_type", "co_mention"], "conv_id": ["c1", "c1"], "turn_idx": [0, 1]})
    want = checks.triple_keys(frame)
    assert checks.check_multiset(checks.triple_keys(frame), want) is None
    assert checks.check_multiset(checks.triple_keys(frame.iloc[:1]), want)
    assert checks.check_multiset(checks.triple_keys(pd.concat([frame, frame.iloc[:1]])), want)
    assert checks.check_multiset(Counter(), Counter()) is None


def test_corrupted_query_rows_fail_the_oracle_comparison():
    oracle = pa.table({"k": pa.array([1, 2], pa.int64()), "v": [0.5, 1.5]})
    dtypes = [("k", "bigint"), ("v", "double")]
    assert checks.compare_to_oracle([(1, 0.5), (2, 1.5)], ["k", "v"], dtypes, oracle) is None
    assert checks.compare_to_oracle([(1, 0.5), (2, 1.75)], ["k", "v"], dtypes, oracle)
    assert checks.compare_to_oracle([(1, 0.5)], ["k", "v"], dtypes, oracle)
    assert checks.compare_to_oracle([(1, 0.5), (2, 1.5)], ["k", "v"], [("k", "string"), ("v", "double")], oracle)


def test_minhash_pairs_must_be_jaccard_oracle_pairs(tmp_path):
    from worker import QueryOracle

    texts = [
        "spark join hash key value scan sort order",
        "spark join hash key value scan sort order line",
        "window stream table vector row line order part",
    ]
    pq.write_table(pa.table({"doc_id": pa.array([1, 2, 3], pa.int64()), "text": texts}), tmp_path / "documents.parquet")
    oracle = QueryOracle(tmp_path)
    try:
        check = lambda pairs: oracle.check(  # noqa: E731
            "minhash_dedup_pairs", [{"id_a": a, "id_b": b} for a, b in pairs], ["id_a", "id_b"], []
        )
        assert check([(1, 2)]) is None
        assert check([]) is None
        assert check([(1, 3)])  # not similar
        assert check([(2, 1)])  # ids out of order
        assert check([(1, 99)])  # unknown document
    finally:
        oracle.close()
