"""spark-submit entry point for the KG-construction pipeline.

    spark-submit --py-files nametag3_spark.zip jobs/run_pipeline.py \
        --input <transcripts parquet/iceberg path or 'synth:N_CONVS,AVG'> \
        --warehouse /path/to/warehouse --scorer oracle [--no-fuzzy]

Each stage publishes an atomic snapshot with a fingerprint manifest and
per-task lineage rows; rerunning resumes from the last consistent
snapshot (north rule). Build the zip with:

    cd /root/repo && zip -qr nametag3_spark.zip nametag3_spark
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--input", required=True,
                        help="transcripts path, or synth:N_CONVS,AVG_TURNS")
    parser.add_argument("--warehouse", required=True)
    parser.add_argument("--scorer", default="oracle")
    parser.add_argument("--no-fuzzy", action="store_true")
    parser.add_argument("--master", default=None)
    args = parser.parse_args()

    from nametag3_spark.pipeline import PipelineRun, input_fingerprint
    from nametag3_spark.session import get_spark

    spark = get_spark(app_name="kg_pipeline", master=args.master)

    if args.input.startswith("synth:"):
        from nametag3_spark.data.synth import synth_transcripts

        n_convs, avg_turns = map(int, args.input.removeprefix("synth:").split(","))
        transcripts = synth_transcripts(spark, n_convs=n_convs, avg_turns=avg_turns)
        input_fp = f"synth-seed42-{n_convs}-{avg_turns}"
    else:
        transcripts = spark.read.parquet(args.input)
        input_fp = input_fingerprint(transcripts)

    start = time.perf_counter()
    run = PipelineRun(
        spark,
        warehouse=args.warehouse,
        scorer=args.scorer,
        fuzzy_linking=not args.no_fuzzy,
        input_fingerprint=input_fp,
    )
    triples = run.run(transcripts)
    n = triples.count()
    print(
        json.dumps(
            {
                "triples": n,
                "elapsed_sec": round(time.perf_counter() - start, 2),
                "stages_run": run.stages_run,
                "stages_skipped": run.stages_skipped,
            }
        ),
        file=sys.stdout,
    )


if __name__ == "__main__":
    main()
