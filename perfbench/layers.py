"""Per-layer metrics of a traced run.

Inputs: the untraced and the traced main-process results of one
workload, and the traced process's event log. Metrics of layers the
workload bypasses are absent here and read 0 in the report (no work
done on that workload).
"""

from __future__ import annotations

import re
import statistics
from pathlib import Path

from checks import STAGES
from eventlog import EventLog, Span

# SnapshotStore.write's lineage pass: re-read the snapshot, count rows
# per partition and collect them to the driver
LINEAGE_CALL_SITE = re.compile(r"^collect at .*nametag3_spark/pipeline\.py:")


def pipeline_layers(traced: dict, log: EventLog) -> dict[str, float]:
    spans = log.spans(lambda p: p.get("perfbench.span"))
    out: dict[str, float] = {}
    cold_spans = []
    for stage in STAGES:
        s = spans.get(f"cold:{stage}", Span())
        cold_spans.append(s)
        out.update(
            {
                f"pipeline.{stage}.wall_s": traced["spans"]["cold"].get(stage, 0.0),
                f"pipeline.{stage}.warm_wall_s": traced["spans"].get("warm", {}).get(stage, 0.0),
                f"pipeline.{stage}.jobs": float(len(s.jobs)),
                f"pipeline.{stage}.task_s": s.task_s,
                f"pipeline.{stage}.shuffle_write_mb": s.shuffle_write_mb,
                f"pipeline.{stage}.lineage_s": s.job_wall_s(LINEAGE_CALL_SITE),
            }
        )
    out["pipeline.spill_mb"] = sum(s.spill_mb for s in cold_spans)
    out["pipeline.task_skew_max"] = max(s.skew_max for s in cold_spans)
    return out


def stream_layers(traced: dict, log: EventLog) -> dict[str, float]:
    qid = traced["stream_query_id"]
    epochs = log.spans(
        lambda p: p.get("streaming.sql.batchId") if p.get("sql.streaming.queryId") == qid else None
    )
    n = max(len(epochs), 1)
    return {
        "stream.jobs_per_epoch": sum(len(s.jobs) for s in epochs.values()) / n,
        "stream.task_s_per_epoch": sum(s.task_s for s in epochs.values()) / n,
        "stream.shuffle_write_mb": sum(s.shuffle_write_mb for s in epochs.values()),
    }


def query_layers(traced: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    cold, warm = traced["queries"]["cold"], traced["queries"]["warm"]
    for q, (build, plan, execute) in cold.items():
        out.update(
            {
                f"query.{q}.build_s": build,
                f"query.{q}.plan_s": plan,
                f"query.{q}.cold_exec_s": execute,
                f"query.{q}.warm_exec_s": warm[q][2],
            }
        )
    return out


def layer_metrics(
    workload: str, fields: dict, plain: dict, traced: dict, eventlog_dir: Path
) -> dict[str, float]:
    out = dict(traced["layers"])
    # peak memory varies with JVM heap growth between runs: a layer figure
    out["peak_rss_mb"] = plain["peak_rss_mb"]
    out["setup_wall_s"] = plain["setup_s"]
    # the workload's operations again in the warm (traced) process
    out["warm_s"] = statistics.median(traced["warm_s"])
    # tracing overhead: the same cold operation, event log on vs off
    out["trace.overhead_s"] = traced["cold_s"] - plain["cold_s"]
    log = EventLog.parse(eventlog_dir)
    if workload == "pipeline_batch":
        out["pipeline_turns_per_s"] = fields["n_turns"] / plain["cold_s"]
        out.update(pipeline_layers(traced, log))
    elif workload == "stream_epochs":
        out["stream_turns_per_s"] = fields["n_turns"] / plain["cold_s"]
        out.update(stream_layers(traced, log))
    else:
        out.update(query_layers(traced))
    return out
