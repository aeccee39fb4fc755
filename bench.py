"""Benchmark harness: headline queries plus the transcripts→triples
pipeline at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS], all in one
Spark session. The last stdout line is ONE JSON object:

    {"metric": "bench_total", "unit": "sec", "sf": ..., "value": N,
     "queries": {<query>: sec, ..., "pipeline_triples": sec},
     "pipeline": {"turns": N, "turns_per_sec": N}}

``value`` is the sum of ``queries``. Each entry is timed to the noop
sink after a table and Python-worker warmup; ``pipeline_triples`` times
``pipeline.kg_dataflow`` (exact linking, no catalog, ``mentions``
persisted as each stream epoch does) over a cached synthetic input.

Usage:
    python bench.py [--queries a,b,pipeline_triples] [--reps N]
                    [--plans-dir DIR] [--scale N]

``--reps N`` reports each entry's minimum over N runs. ``--plans-dir``
writes each entry's ``explain("formatted")`` to ``DIR/<name>.txt``.
``--scale N`` unions N id-shifted copies of the SF tables into a cached
directory first, approximating a larger SF for scale-sensitivity checks.
Layer-by-layer measurements of the shipped pipeline, the stream and the
queries live in ``perfbench/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

BENCH_QUERIES = [
    "tpch_q1",
    "join_orders_customer",
    "broadcast_dim_join",
    "sessionize",
    "carry_forward",
    "topk_per_group",
    "cube_breakdown",
    "dedup_exact",
    "token_stats",
    "langid",
    "minhash_dedup_pairs",
    "cosine_topk",
    "serve_requests",
    # round-4 KG query surface: CONSTRUCT rule derivation exercises the
    # BGP join chain, the NOT-EXISTS anti-join, and the one-Generate
    # templating in a single ~2.5s (sf0.1) plan
    "bgp_construct",
    # the text front end end-to-end: parser → aggregated subquery →
    # semi-structured join → ORDER/LIMIT (~1s at sf0.1)
    "sparql_subquery",
]
PIPELINE = "pipeline_triples"

# (table, id column shifted per copy by --scale; None = copied as is)
SCALE_TABLES = (
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
    ("events", "event_id"),
    ("lineitem", "l_orderkey"),
    ("orders", "o_orderkey"),
    ("customer", None),
    ("supplier", None),
    ("part", None),
    ("nation", None),
    ("region", None),
)
WARM_TABLES = ("region", "nation", "customer", "orders", "lineitem",
               "documents", "embeddings", "events")


def _sf_from_dir(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def _pipeline_sizes(sf: float) -> tuple[int, int]:
    # (n_convs, avg_turns): ~3k / ~30k / ~1.24M turns, sized so the
    # Python+shuffle work dominates the fixed per-job cost
    if sf <= 0.001:
        return 200, 12
    if sf <= 0.01:
        return 2000, 13
    return 60000, 17


def bench_result(sf: float, timings: dict[str, float],
                 turns: int | None = None) -> dict:
    """The final JSON line's dict: ``pipeline`` appears iff the
    ``pipeline_triples`` entry ran (``turns`` is its input size)."""
    result = {"metric": "bench_total", "unit": "sec", "sf": sf,
              "value": round(sum(timings.values()), 3),
              "queries": dict(timings)}
    if PIPELINE in timings:
        result["pipeline"] = {
            "turns": turns,
            "turns_per_sec": round(turns / timings[PIPELINE], 1),
        }
    return result


def scale_cache_dir(sf_dir: str, scale: int) -> str:
    """Where ``--scale`` caches its tables: keyed on the scale AND the
    source directory, so another SF dir never reuses stale copies."""
    digest = hashlib.sha1(os.path.realpath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(),
                        f"sg_scaled_{scale}x_{digest}")


def build_scaled(spark, sf_dir: str, scale: int) -> str:
    """Union ``scale`` id-shifted copies of each SF table into the cache
    directory; ``_DONE`` is written only after every table is copied, and
    a directory without it is rebuilt from scratch."""
    import shutil

    from pyspark.sql import functions as F

    out_dir = scale_cache_dir(sf_dir, scale)
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for table, id_col in SCALE_TABLES:
        df = out = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        if id_col is not None:
            n = df.agg(F.max(id_col)).first()[0] + 1
            for i in range(1, scale):
                out = out.unionByName(
                    df.withColumn(id_col, F.col(id_col) + i * n))
        # coalesce(1): the SF tables are ONE file with few row groups — a
        # multi-file copy would overstate scan parallelism and hide
        # single-task-scan bottlenecks
        out.coalesce(1).write.mode("overwrite").parquet(
            f"{out_dir}/{table}.parquet")
    open(done, "w").close()
    return out_dir


def _write_plan(spark, df, path: str) -> None:
    with open(path, "w") as fh:
        fh.write(df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")))


def _parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description="Time the headline queries and the triples pipeline; "
                    "print one JSON line.")
    ap.add_argument("--queries", default=",".join(BENCH_QUERIES + [PIPELINE]),
                    help="comma-separated entries to time, in order")
    ap.add_argument("--reps", type=int, default=1,
                    help="runs per entry; the minimum is reported")
    ap.add_argument("--plans-dir", default=None,
                    help="write each entry's formatted plan here")
    ap.add_argument("--scale", type=int, default=1,
                    help="union N id-shifted copies of the SF tables first")
    return ap.parse_args(argv)


def main() -> None:
    args = _parse_args()
    names = [n.strip() for n in args.queries.split(",") if n.strip()]

    import __spark_entry__ as entry_mod
    from nametag3_spark.data.synth import synth_transcripts
    from nametag3_spark.pipeline import kg_dataflow, persisted_mentions
    from nametag3_spark.session import get_spark

    spark = get_spark(app_name="bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    sf = _sf_from_dir(SF_DIR)
    sf_dir = build_scaled(spark, SF_DIR, args.scale) if args.scale > 1 else SF_DIR
    qs = entry_mod.queries()
    unknown = [n for n in names if n != PIPELINE and n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {', '.join(unknown)}")

    # session warmup: first actions pay JVM/codegen/page-cache init that
    # would otherwise be billed to whichever query touches each table
    # first — a long-running cluster job reads warm metadata/cache too
    for table in WARM_TABLES:
        spark.read.parquet(f"{sf_dir}/{table}.parquet").count()
    # spawn the Python worker pool too, so the first Python-stage query
    # is not billed the per-worker spawn+import cost
    spark.range(CPUS * 2).repartition(CPUS).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def shuffle_width(name: str) -> None:
        # the pipeline leg keeps the shuffle width of its earlier
        # standalone job, so turns_per_sec keeps its meaning
        spark.conf.set("spark.sql.shuffle.partitions",
                       max(CPUS, 8) if name == PIPELINE else CPUS)

    turns = None
    transcripts = None
    if PIPELINE in names:
        shuffle_width(PIPELINE)
        n_convs, avg_turns = _pipeline_sizes(sf)
        transcripts = synth_transcripts(
            spark, n_convs=n_convs, avg_turns=avg_turns,
            partitions=max(CPUS * 2, 8),
        ).cache()
        turns = transcripts.count()  # materialize input outside the timing
        # warmup on a small slice, spread so EVERY worker slot pays its
        # spawn+import cost and the codegen paths JIT before the timer
        with persisted_mentions() as stage:
            noop(kg_dataflow(transcripts.limit(4000).repartition(CPUS * 2),
                             fuzzy=False, stage=stage)["triples"])

    def build(name: str, stage):
        """The entry's DataFrame; ``stage`` is the pipeline's stage hook."""
        if name == PIPELINE:
            return kg_dataflow(transcripts, fuzzy=False, stage=stage)["triples"]
        return qs[name](spark, sf_dir)

    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)
    timings: dict[str, float] = {}
    for name in names:
        shuffle_width(name)
        if args.plans_dir:
            with persisted_mentions() as stage:
                _write_plan(spark, build(name, stage),
                            os.path.join(args.plans_dir, f"{name}.txt"))
        times = []
        for _ in range(max(args.reps, 1)):
            spark.sparkContext.setJobDescription(f"bench:{name}")
            with persisted_mentions() as stage:
                start = time.perf_counter()
                noop(build(name, stage))
                times.append(round(time.perf_counter() - start, 3))
            spark.sparkContext.setJobDescription(None)
        timings[name] = min(times)
        print(json.dumps({"query": name, "times": times}), file=sys.stderr,
              flush=True)

    if transcripts is not None:
        transcripts.unpersist()
    print(json.dumps(bench_result(sf, timings, turns)))


if __name__ == "__main__":
    main()
