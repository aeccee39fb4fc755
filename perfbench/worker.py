"""One fresh benchmark process, started by ``run.py``.

    python3 perfbench/worker.py '<json spec>'

It builds the session with the shipped ``get_spark`` defaults, opens the
workload's inputs (set-up: wall from the moment ``run.py`` spawned the
process, and CPU time of its session), then runs the workload's
operations from outside the package, timing each in wall and CPU
seconds, and writes one result JSON file.

When the spec asks for tracing, the Spark event log is on and every
stage span tags its jobs with the ``perfbench.span`` local property, so
``eventlog.py`` can attribute jobs to spans offline.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path
from time import perf_counter

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(Path(__file__).resolve().parent)]

from checks import (  # noqa: E402
    SPAN_KEYS,
    STAGES,
    Ops,
    check_manifests,
    check_multiset,
    check_resume,
    check_spans,
    compare_to_oracle,
    parquet_rows,
    read_columns,
    span_pr,
    triple_keys,
)

SPAN_PROP = "perfbench.span"


def _rmtree(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _set_span(spark, name: str | None) -> None:
    spark.sparkContext.setLocalProperty(SPAN_PROP, name)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def session_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this worker's session:
    this Python, its JVM and Spark's Python daemon and UDF workers (the
    daemon moves itself into a process group of its own, but stays in
    the session ``run.py`` started), plus their reaped children. Time the
    hypervisor steals is not charged to them."""
    sid, ticks = os.getsid(0), 0
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _peak_rss_mb(spark) -> float:
    """VmHWM of this driver Python plus the JVM it launched."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()  # noqa: SLF001
    return _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)


class SpanStore:
    """Wraps a ``PipelineRun``'s public ``store``: a stage's span runs from
    its ``is_current`` call to its read-back, so build-time actions (such
    as ``link_mentions``' ``approx_count_distinct``) count to the stage."""

    def __init__(self, store, spark, tag: str, spans: dict[str, float], trace: bool):
        self._store, self._spark, self._tag = store, spark, tag
        self._spans, self._trace = spans, trace
        self._open: tuple[str, float] | None = None
        self.manifests: dict[str, dict] = {}

    def __getattr__(self, name):
        return getattr(self._store, name)

    def is_current(self, name: str, fingerprint: str) -> bool:
        self._open = (name, perf_counter())
        if self._trace:
            _set_span(self._spark, f"{self._tag}:{name}")
        return self._store.is_current(name, fingerprint)

    def write(self, df, name, fingerprint, partition_by=None):
        manifest = self._store.write(df, name, fingerprint, partition_by=partition_by)
        self.manifests[name] = manifest
        return manifest

    def read(self, spark, name: str):
        df = self._store.read(spark, name)
        if self._open and self._open[0] == name:
            self._spans[name] = perf_counter() - self._open[1]
            self._open = None
            if self._trace:
                _set_span(self._spark, f"{self._tag}:outside")
        return df


# --- set-up -------------------------------------------------------------------


def open_inputs(spark, spec: dict):
    """Open the workload's inputs; returns what the workload reads."""
    if spec["workload"] == "kg_queries":
        tables = Path(spec["tables"])
        for f in sorted(tables.glob("*.parquet")):
            spark.read.parquet(str(f)).schema
        return tables
    from nametag3_spark.data.synth import TRANSCRIPT_SCHEMA

    turns = str(Path(spec["transcripts"]) / "turns")
    if spec["workload"] == "stream_epochs":
        return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(turns)
    df = spark.read.parquet(turns)
    df.schema
    return df


# --- pipeline_batch -------------------------------------------------------------


def pipeline_batch(spark, turns, spec: dict, ops: Ops, res: dict) -> None:
    from nametag3_spark.pipeline import PipelineRun

    work, trace = Path(spec["work"]), spec["trace"]
    fingerprint = f"perfbench-{Path(spec['transcripts']).name}"
    gold = read_columns(Path(spec["transcripts"]) / "gold", SPAN_KEYS)

    def one_run(tag: str, warehouse: Path, spans: dict):
        run = PipelineRun(spark, warehouse=str(warehouse), input_fingerprint=fingerprint)
        run.store = SpanStore(run.store, spark, tag, spans, trace)
        c0, t0 = session_cpu_s(), perf_counter()
        n = run.run(turns).count()
        wall, cpu = perf_counter() - t0, session_cpu_s() - c0
        if trace:
            _set_span(spark, None)
        return run, n, wall, cpu

    def check_cold(value) -> str | None:
        run = value[0]
        wh = Path(run.warehouse)
        counted = {s: parquet_rows(wh / s / "data") for s in STAGES}
        problem = check_manifests(run.store.manifests, counted)
        mentions = read_columns(wh / "mentions" / "data", SPAN_KEYS)
        p, r = span_pr(mentions, gold)
        res["layers"].update({"infer.span_precision": p, "infer.span_recall": r})
        res["layers"].update({f"pipeline.{s}.rows": counted[s] for s in STAGES})
        return problem or check_spans(p, r)

    cold_spans: dict[str, float] = {}
    t_start = perf_counter()
    cold = ops.run("pipeline_run", lambda: one_run("cold", work / "wh-cold", cold_spans), check_cold)
    if cold is None:
        return
    run, n_triples, res["cold_s"], res["cold_cpu_s"] = cold
    res["spans"]["cold"] = cold_spans

    def resume():
        again = PipelineRun(spark, warehouse=run.warehouse, input_fingerprint=fingerprint)
        t0 = perf_counter()
        again.run(turns).count()
        return again, perf_counter() - t0

    resumed = ops.run("resume", resume, lambda v: check_resume(v[0].stages_skipped, v[0].stages_run, STAGES))
    if resumed is not None:
        res["layers"]["pipeline.resume_s"] = resumed[1]
    if trace:
        res["layers"].update(pipeline_quality(Path(run.warehouse)))

    warm: list[float] = []
    i = 0
    while spec["warm"] and (not warm or perf_counter() - t_start < spec["seconds"]):
        spans: dict[str, float] = {}
        wh = work / f"wh-warm{i}"
        value = ops.run(
            "pipeline_run",
            lambda: one_run(f"warm{i}", wh, spans),
            lambda v: None if v[1] == n_triples else f"{v[1]} triples, cold run had {n_triples}",
        )
        _rmtree(wh)
        if value is None:
            break
        warm.append(value[2])
        res["spans"].setdefault("warm", spans)
        i += 1
    res["warm_s"] = warm


def pipeline_quality(wh: Path) -> dict[str, float]:
    """Link rate by method and connected-component sizes, read from the
    published snapshots after the timed run."""
    linked = read_columns(wh / "linked" / "data", ["link_method"])
    methods = linked["link_method"].fillna("none").value_counts()
    total = max(len(linked), 1)
    canon = read_columns(wh / "canonical" / "data", ["entity_canonical", "mention_norm", "label"])
    sizes = canon.drop_duplicates().groupby("entity_canonical").size()
    return {
        "linking.exact_ratio": methods.get("exact", 0) / total,
        "linking.lsh_ratio": methods.get("lsh", 0) / total,
        "linking.unlinked_ratio": methods.get("none", 0) / total,
        "canonicalize.components": float(len(sizes)),
        "canonicalize.largest_component": float(sizes.max() if len(sizes) else 0),
    }


# --- stream_epochs ------------------------------------------------------------------


def batch_triple_keys(spark, turns):
    """The exact-linking batch flat path over the same files."""
    from nametag3_spark.data.synth import gazetteer_df
    from nametag3_spark.operators.canonicalize import canonicalize_mentions
    from nametag3_spark.operators.infer import extract_mentions_flat
    from nametag3_spark.operators.linking import link_mentions
    from nametag3_spark.operators.triples import emit_triples

    linked = link_mentions(extract_mentions_flat(turns), gazetteer_df(spark), fuzzy=False)
    triples = emit_triples(canonicalize_mentions(linked))
    return triple_keys(triples.select("pred", "conv_id", "turn_idx").toPandas())


def stream_epochs(spark, turns, spec: dict, ops: Ops, res: dict) -> None:
    """One availableNow drain; every epoch is an operation, and a wrong
    output fails all of them."""
    from nametag3_spark.streaming.stream import start_triples_stream

    base = Path(spec["work"]) / "stream"
    n_epochs = spec["stream_epochs"]
    ops.attempted += n_epochs
    c0, t0 = session_cpu_s(), perf_counter()
    query = start_triples_stream(
        spark, str(Path(spec["transcripts"]) / "turns"), str(base / "out"),
        str(base / "ckpt"), catalog_dir=str(base / "catalog"),
    )
    try:
        query.awaitTermination(spec["op_timeout_s"])
        error = TimeoutError("stream did not drain") if query.isActive else None
    except Exception as exc:  # noqa: BLE001 - counted per epoch below
        error = exc
    wall, cpu = perf_counter() - t0, session_cpu_s() - c0
    query.stop()
    epochs = [p for p in query.recentProgress if p.numInputRows > 0]
    if error is not None or len(epochs) != n_epochs:
        ops.fail("stream_epoch", f"{len(epochs)}/{n_epochs} epochs done: {error}", max(1, n_epochs - len(epochs)))
        return
    try:
        got = triple_keys(read_columns(base / "out", ["pred", "conv_id", "turn_idx"]))
        problem = check_multiset(got, batch_triple_keys(spark, turns))
    except Exception as exc:  # noqa: BLE001 - the reference run failed
        problem = f"batch reference failed: {type(exc).__name__}: {exc}"
    if problem:
        ops.fail("stream_epoch", problem, n_epochs)
        return
    res["cold_s"], res["cold_cpu_s"] = wall, cpu
    # the same operators once the process is warm: every epoch after the first
    res["warm_s"] = [sum(p.durationMs["triggerExecution"] for p in epochs[1:]) / 1000.0]
    res["stream_query_id"] = str(query.id)
    if spec["trace"]:
        res["layers"].update(stream_progress(epochs, base))


def stream_progress(epochs, base: Path) -> dict[str, float]:
    """Per-epoch numbers from ``StreamingQuery.recentProgress``."""

    def p50(key: str) -> float:
        return statistics.median(p.durationMs.get(key, 0) for p in epochs) / 1000.0

    return {
        "stream.epochs": float(len(epochs)),
        "stream.first_epoch_s": epochs[0].durationMs["triggerExecution"] / 1000.0,
        "stream.rows_per_epoch": statistics.mean(p.numInputRows for p in epochs),
        "stream.catalog_rows": float(parquet_rows(base / "catalog")),
        "stream.add_batch_p50_s": p50("addBatch"),
        "stream.query_planning_p50_s": p50("queryPlanning"),
        "stream.wal_commit_p50_s": p50("walCommit"),
    }


# --- kg_queries -----------------------------------------------------------------------


def kg_queries(spark, tables: Path, spec: dict, ops: Ops, res: dict) -> None:
    """Cold pass: build, plan and collect each query once, and check the
    rows against DuckDB. Warm pass: a freshly built DataFrame of each
    query, planned and executed to the noop sink."""
    import __spark_entry__ as entry

    registry = entry.queries()
    names = spec["queries"]
    sf_dir = str(tables)
    oracle = QueryOracle(tables)

    def timed(name: str, collect: bool):
        c0, t0 = session_cpu_s(), perf_counter()
        df = registry[name](spark, sf_dir)
        t1 = perf_counter()
        df._jdf.queryExecution().executedPlan()  # noqa: SLF001 - physical planning
        t2 = perf_counter()
        if collect:
            rows = df.collect()
        else:
            df.write.format("noop").mode("overwrite").save()
            rows = None
        t3, cpu = perf_counter(), session_cpu_s() - c0
        return (t1 - t0, t2 - t1, t3 - t2), (rows, df.columns, df.dtypes), cpu

    def one_pass(collect: bool) -> tuple[dict[str, tuple], float] | None:
        times, cpu = {}, 0.0
        for name in names:
            value = ops.run(
                f"query {name}",
                lambda: timed(name, collect),
                (lambda v: oracle.check(name, *v[1])) if collect else None,
            )
            if value is None:
                return None
            times[name] = value[0]
            cpu += value[2]
        return times, cpu

    t_start = perf_counter()
    cold = one_pass(collect=True)
    oracle.close()
    if cold is None:
        return
    res["queries"] = {"cold": cold[0]}
    res["cold_s"] = sum(sum(v) for v in cold[0].values())
    res["cold_cpu_s"] = cold[1]
    warm: list[float] = []
    while spec["warm"] and (not warm or perf_counter() - t_start < spec["seconds"]):
        warm_pass = one_pass(collect=False)
        if warm_pass is None:
            return
        res["queries"].setdefault("warm", warm_pass[0])
        warm.append(sum(sum(v) for v in warm_pass[0].values()))
    res["warm_s"] = warm


class QueryOracle:
    """DuckDB over the same parquet files, with ``__spark_entry__``'s
    oracle SQL. ``serve_requests`` is checked on the columns its
    ``serve_status`` oracle covers; ``minhash_dedup_pairs`` as a subset of
    the pairs the ``jaccard_pairs_exact`` oracle finds."""

    SERVE_COLUMNS = ["request_id", "status", "content_type", "model"]

    def __init__(self, tables: Path):
        import duckdb

        import __spark_entry__ as entry

        self.sql = entry.oracle_sql()
        self.tables = tables
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        for f in sorted(tables.glob("*.parquet")):
            self.con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")

    def exact_pairs(self, doc_ids: set[int]) -> set[tuple[int, int]]:
        """``jaccard_pairs_exact`` among ``doc_ids``: a pair's Jaccard
        depends on its two texts only, so this is the oracle's pair set
        restricted to them, without its all-pairs self-join."""
        import duckdb

        if not doc_ids:
            return set()
        ids = ", ".join(str(int(i)) for i in sorted(doc_ids))
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM '{self.tables / 'documents.parquet'}' "
                f"WHERE doc_id IN ({ids})"
            )
            return {(a, b) for a, b, _ in con.execute(self.sql["jaccard_pairs_exact"]).fetchall()}
        finally:
            con.close()

    def check(self, name: str, rows, cols, dtypes) -> str | None:
        if name == "minhash_dedup_pairs":
            pairs = [(r["id_a"], r["id_b"]) for r in rows]
            exact = self.exact_pairs({i for p in pairs for i in p})
            bad = [p for p in pairs if p not in exact]
            return f"{len(bad)} pairs not in jaccard_pairs_exact, e.g. {bad[:3]}" if bad else None
        if name == "serve_requests":
            keep = self.SERVE_COLUMNS
            rows = [tuple(r[c] for c in keep) for r in rows]
            cols, dtypes = keep, [d for d in dtypes if d[0] in keep]
            name = "serve_status"
        return compare_to_oracle(rows, cols, dtypes, self.con.execute(self.sql[name]).arrow())

    def close(self) -> None:
        self.con.close()


WORKLOADS = {
    "pipeline_batch": pipeline_batch,
    "stream_epochs": stream_epochs,
    "kg_queries": kg_queries,
}


def main() -> None:
    spec = json.loads(sys.argv[1])
    from nametag3_spark.session import get_spark

    work = Path(spec["work"])
    work.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        # keep the JVM's temporary and perf-counter files out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={spec['tmp']} -XX:-UsePerfData",
    }
    if spec["trace"]:
        Path(spec["eventlog"]).mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": Path(spec["eventlog"]).as_uri(),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app_name=f"perfbench-{spec['workload']}", extra_conf=conf)
    inputs = open_inputs(spark, spec)
    res: dict = {
        "setup_s": time.time() - spec["t_spawn"], "setup_cpu_s": session_cpu_s(),
        "spans": {}, "layers": {},
    }
    ops = Ops()
    WORKLOADS[spec["workload"]](spark, inputs, spec, ops, res)
    res["peak_rss_mb"] = _peak_rss_mb(spark)
    res.update(attempted=ops.attempted, failed=ops.failed, errors=ops.errors)
    spark.stop()
    Path(spec["out"]).write_text(json.dumps(res))


if __name__ == "__main__":
    main()
