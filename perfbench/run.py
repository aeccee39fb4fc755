"""Outside-in benchmark of nametag3_spark on ``local[4]``.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 5 --trace 0

Workloads (see perfbench/README.md for why each exists):

* ``pipeline_batch`` - the shipped ``PipelineRun`` (oracle scorer, fuzzy
  linking, six snapshots) over synthetic transcripts read from parquet,
  then a resume over the same warehouse.
* ``stream_epochs`` - ``start_triples_stream`` (availableNow, with a
  catalog) drained over the same kind of transcripts in 8 files.
* ``kg_queries`` - the 15 ``bench.py`` queries over generated tables,
  each built, planned and executed once and checked against DuckDB.

Each run starts one fresh worker process (``worker.py``) that builds
the session, opens the inputs and runs the workload's operations once,
cold. ``--trace 1`` instead runs the worker twice: untraced and cold
only, as a timed run, and then with the Spark event log on, repeating
the operations warm after the cold pass until ``--seconds`` have passed
(at least once); the run reports the per-layer metrics of
BENCHMARK.json. The last line of stdout is one JSON
object: correct, attempted, failed, metrics.

Inputs are generated from ``--seed`` and cached under
``.perfbench_cache/`` in the checkout; every file the benchmark writes
stays there.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench_cache"
sys.path[:0] = [str(ROOT), str(HERE)]

CORES = 4
WORKER_TIMEOUT_S = 150

# input sizes: a timed run of any workload ends in ~45 s, most of it
# Spark's fixed start-up and first-run cost
PIPELINE_INPUT = {"n_convs": 800, "avg_turns": 17, "n_files": CORES}
STREAM_INPUT = {"n_convs": 320, "avg_turns": 17, "n_files": 8}
QUERY_SF = 0.02
# bench.py's query list, copied so that a change there does not change
# this benchmark's workload
BENCH_QUERIES = [
    "tpch_q1", "join_orders_customer", "broadcast_dim_join", "sessionize",
    "carry_forward", "topk_per_group", "cube_breakdown", "dedup_exact",
    "token_stats", "langid", "minhash_dedup_pairs", "cosine_topk",
    "serve_requests", "bgp_construct", "sparql_subquery",
]


def _checkout_ok() -> bool:
    return all(
        (ROOT / p).is_file()
        for p in ("nametag3_spark/__init__.py", "__spark_entry__.py", "tools/check_oracles.py")
    )


def prepare(workload: str, seed: int) -> dict:
    """Generate (or reuse) the inputs; returns the worker spec fields."""
    import inputs

    if workload == "kg_queries":
        order = list(BENCH_QUERIES)
        random.Random(seed).shuffle(order)
        return {"tables": str(inputs.query_tables(CACHE, QUERY_SF)), "queries": order}
    size = PIPELINE_INPUT if workload == "pipeline_batch" else STREAM_INPUT
    entry = inputs.transcripts(CACHE, seed, **size)
    # read_transcript_stream admits 4 files per epoch
    return {
        "transcripts": str(entry),
        "n_turns": inputs.count_turns(entry),
        "stream_epochs": -(-size["n_files"] // 4),
    }


def _session_pids(sid: int) -> list[int]:
    """Live members of session ``sid``. Spark's Python daemon moves itself
    into a process group of its own, so the worker's process group does
    not hold everything it started; its session does."""
    pids = []
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(stat.parent.name))
    return pids


def _reap(proc: subprocess.Popen) -> None:
    """Stop every process of the worker's session (its JVM, Spark's Python
    daemon and workers) and wait until each has ended."""
    deadline = time.monotonic() + 20
    while pids := _session_pids(proc.pid):
        if proc.poll() is None or time.monotonic() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)
    proc.wait()


def spawn(spec: dict, env: dict, log: Path) -> dict | None:
    """Run one worker in a session of its own; None when it produced no
    result (crash or timeout)."""
    out = Path(spec["out"])
    with open(log, "ab") as fh:
        spec = dict(spec, t_spawn=time.time())
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), json.dumps(spec)],
            cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"[perfbench] worker timed out after {WORKER_TIMEOUT_S}s", file=sys.stderr)
        finally:
            _reap(proc)
    if not out.exists():
        tail = log.read_text(errors="replace")[-2000:]
        print(f"[perfbench] worker produced no result; log tail:\n{tail}", file=sys.stderr)
        return None
    return json.loads(out.read_text())


def worker_env(tmp: Path, fields: dict) -> dict:
    env = dict(os.environ)
    # the shipped get_spark defaults, whatever the caller's environment says
    for name in ("SPARK_GRAFT_MAX_PARTITION_BYTES", "SPARK_DRIVER_MEMORY"):
        env.pop(name, None)
    env.update(
        SPARK_GRAFT_CPUS=str(CORES),
        # Spark's Python workers import nametag3_spark by module path:
        # without the checkout on their path every UDF task fails
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=str(tmp / "spark-local"),
        TMPDIR=str(tmp),
    )
    if "tables" in fields:
        env["SPARK_GRAFT_ORACLE_SF_DIR"] = fields["tables"]
    return env


class Run:
    """One benchmark run: its scratch directory, worker specs and ledger."""

    def __init__(self, args, fields: dict):
        self.args, self.fields = args, fields
        self.dir = CACHE / "runs" / f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
        self.dir.mkdir(parents=True)
        (self.dir / "tmp").mkdir()
        self.env = worker_env(self.dir / "tmp", fields)
        self.attempted = 0
        self.failed = 0
        self.n = 0

    def worker(self, trace: bool = False) -> dict | None:
        """One worker process; None (counted as a failed operation) when
        it crashed, timed out or measured nothing."""
        self.n += 1
        name = f"w{self.n}{'-trace' if trace else ''}"
        spec = dict(
            self.fields,
            workload=self.args.workload, trace=trace, warm=trace, seed=self.args.seed,
            seconds=self.args.seconds, op_timeout_s=WORKER_TIMEOUT_S,
            work=str(self.dir / name), tmp=str(self.dir / "tmp"),
            out=str(self.dir / f"{name}.json"), eventlog=str(self.dir / f"{name}-eventlog"),
        )
        res = spawn(spec, self.env, self.dir / f"{name}.log")
        if res is None:
            self.attempted += 1
            self.failed += 1
            return None
        self.attempted += res["attempted"]
        self.failed += res["failed"]
        for err in res["errors"]:
            print(f"[perfbench] {name}: {err}", file=sys.stderr)
        res["eventlog"] = spec["eventlog"]
        return res if "cold_s" in res else None

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def timed(run: Run) -> dict[str, float]:
    res = run.worker()
    if res is None:
        return {}
    # CPU seconds: the host steals CPU from this container in bursts, which
    # stretches wall times by up to ~40% between sets of runs but is not
    # charged to the processes
    return {
        "setup_s": res["setup_cpu_s"], "cold_cpu_s": res["cold_cpu_s"],
        "setup_wall_s": res["setup_s"], "cold_s": res["cold_s"],
    }


def traced(run: Run) -> dict[str, float]:
    from layers import layer_metrics

    plain = run.worker()
    tr = run.worker(trace=True)
    if plain is None or tr is None:
        return {}
    return layer_metrics(run.args.workload, run.fields, plain, tr, Path(tr["eventlog"]))


def headline(workload: str, fields: dict, m: dict) -> dict[str, tuple[float, str]]:
    """Wall-clock figures of the run, printed beside the CPU-time
    end-to-end metrics."""
    if "cold_s" not in m:
        return {}
    out = {"setup_wall_s": (m["setup_wall_s"], "s")}
    if workload == "pipeline_batch":
        out["pipeline_turns_per_s"] = (fields["n_turns"] / m["cold_s"], "1/s")
    elif workload == "stream_epochs":
        out["stream_turns_per_s"] = (fields["n_turns"] / m["cold_s"], "1/s")
    else:
        out["queries_cold_s"] = (m["cold_s"], "s")
    return out


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=["pipeline_batch", "stream_epochs", "kg_queries"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)
    if not _checkout_ok():
        print("perfbench: nametag3_spark/, __spark_entry__.py or tools/ missing; "
              "run from the root of a repository checkout", file=sys.stderr)
        return 2
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = bench["per_layer"] if args.trace else bench["end_to_end"]

    run = Run(args, prepare(args.workload, args.seed))
    try:
        measured = traced(run) if args.trace else timed(run)
    finally:
        run.close()
    run.attempted = max(run.attempted, 1)
    if not args.trace:
        for name, (value, unit) in headline(args.workload, run.fields, measured).items():
            print(f"{args.workload} {name} {value:.4f} {unit}")
        print(f"{args.workload} failed_ratio {run.failed / run.attempted:.4f} ratio")
    # a metric of a layer this workload bypasses reads 0: no work done there
    metrics = {
        m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }
    print(json.dumps({
        "correct": run.failed == 0 and bool(measured),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
