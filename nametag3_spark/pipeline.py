"""End-to-end KG-construction pipeline with snapshot resume + lineage.

Stages (each materialized as an atomic table snapshot):

    transcripts → labeled → mentions → linked → canonical → triples

Snapshot layer: Iceberg when its runtime jars are on the classpath
(``iceberg_available()``), else a parquet-directory snapshot store with the
same contract — atomic publish (write to a tmp dir, rename the old
snapshot aside, rename the tmp dir in), a manifest
carrying the stage's input fingerprint, and lineage rows (rows per write
task, read from the written part files' parquet footers). Resume: a
stage whose manifest fingerprint matches its input's is skipped and its
snapshot read back (north rule: "checkpoints per snapshot so any stage
resumes without recompute").

The fingerprint is a hash of (stage name, config, upstream fingerprint),
NOT wall-clock, so reruns are byte-stable. A file-backed input is keyed
on its content listing (``input_fingerprint``), not its path.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass, field
from hashlib import sha256

from pyspark.sql import DataFrame, SparkSession

from nametag3_spark.data.synth import gazetteer_df
from nametag3_spark.operators.canonicalize import canonicalize_mentions
from nametag3_spark.operators.infer import annotate_turns, scorer_loader
from nametag3_spark.operators.linking import link_mentions
from nametag3_spark.operators.triples import emit_triples, extract_mentions
from nametag3_spark.operators.validate import validate_turns


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime is actually on the JVM classpath.

    Must use ``Class.forName``: a bare ``spark._jvm.org.apache.iceberg.X``
    attribute access never raises (py4j returns a JavaPackage stub for
    unknown names), which would make the probe always-truthy."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.Snapshot"
        )
        return True
    except Exception:
        return False


def _written_rows(data_dir: str) -> dict[int, int]:
    """Rows per write task of a parquet directory, from the part files'
    footers: ``part-<task>-…`` files under ``data_dir`` (and its
    ``partitionBy`` subdirectories), summed per task number. Reads
    footers only, so lineage costs no Spark job."""
    import pyarrow.parquet as pq

    rows: dict[int, int] = {}
    for dirpath, _dirs, files in os.walk(data_dir):
        for f in files:
            if f.startswith("part-") and f.endswith(".parquet"):
                task = int(f.split("-", 2)[1])
                n = pq.read_metadata(os.path.join(dirpath, f)).num_rows
                rows[task] = rows.get(task, 0) + n
    return rows


@dataclass
class SnapshotStore:
    """Parquet-directory snapshot store with atomic publish + manifests."""

    root: str

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def manifest(self, name: str) -> dict | None:
        path = os.path.join(self._dir(name), "_MANIFEST.json")
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def is_current(self, name: str, fingerprint: str) -> bool:
        m = self.manifest(name)
        return m is not None and m.get("fingerprint") == fingerprint

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self._dir(name), "data"))

    def write(
        self,
        df: DataFrame,
        name: str,
        fingerprint: str,
        partition_by: list[str] | None = None,
    ) -> dict:
        """Materialize + publish atomically; returns the manifest: the
        row count and the rows each write task wrote (``partition_id``
        is the task number in the part file name), read from the
        footers of the files just written."""
        final_dir = self._dir(name)
        tmp_dir = final_dir + ".tmp-" + uuid.uuid4().hex[:8]
        data_dir = os.path.join(tmp_dir, "data")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)

        partitions = _written_rows(data_dir)
        manifest = {
            "stage": name,
            "fingerprint": fingerprint,
            "row_count": sum(partitions.values()),
            "partitions": [
                {"partition_id": task, "rows": rows}
                for task, rows in sorted(partitions.items())
            ],
        }
        with open(os.path.join(tmp_dir, "_MANIFEST.json"), "w") as fh:
            json.dump(manifest, fh, indent=1)
        # publish: rename the old snapshot aside, move the new one in,
        # then drop the aside — a failure before the last step leaves
        # the previous snapshot in place
        aside = None
        if os.path.exists(final_dir):
            aside = final_dir + ".old-" + uuid.uuid4().hex[:8]
            os.replace(final_dir, aside)
        try:
            os.replace(tmp_dir, final_dir)
        except OSError:
            if aside is not None:
                os.replace(aside, final_dir)
            shutil.rmtree(tmp_dir, ignore_errors=True)
            raise
        if aside is not None:
            shutil.rmtree(aside)
        return manifest


def _fingerprint(*parts: str) -> str:
    return sha256("|".join(parts).encode()).hexdigest()[:16]


def input_fingerprint(df: DataFrame) -> str:
    """Content fingerprint of a file-backed input: the sorted
    ``(file, length, modification time)`` of ``df.inputFiles()``, stat'ed
    through Hadoop ``FileSystem`` (any scheme Spark reads). New data
    written to the same path changes it, so resume never reuses
    snapshots of the old data."""
    spark = df.sparkSession
    hadoop_fs = spark._jvm.org.apache.hadoop.fs  # noqa: SLF001
    conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    entries = []
    for name in sorted(df.inputFiles()):
        path = hadoop_fs.Path(name)
        status = path.getFileSystem(conf).getFileStatus(path)
        entries.append(f"{name}:{status.getLen()}:{status.getModificationTime()}")
    return _fingerprint("files", *entries)


@dataclass
class PipelineRun:
    """Orchestrates the staged run; every stage snapshot-resumable."""

    spark: SparkSession
    warehouse: str
    scorer: str = "oracle"
    fuzzy_linking: bool = True
    input_fingerprint: str = "synth-seed42"
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        scorer_loader(self.scorer)  # a bad key raises here, before any write
        self.store = SnapshotStore(self.warehouse)

    def _stage(
        self,
        name: str,
        upstream_fp: str,
        build,
        partition_by: list[str] | None = None,
    ) -> tuple[DataFrame, str]:
        fp = _fingerprint(name, self.scorer, str(self.fuzzy_linking), upstream_fp)
        if self.store.is_current(name, fp):
            self.stages_skipped.append(name)
            return self.store.read(self.spark, name), fp
        df = build()
        self.store.write(df, name, fp, partition_by=partition_by)
        self.stages_run.append(name)
        return self.store.read(self.spark, name), fp

    def run(self, transcripts: DataFrame) -> DataFrame:
        """transcripts → triples table; returns the triples DataFrame.

        Invalid turns (oversize / null keys, P10) are quarantined into
        their own ``rejected`` snapshot — never silently dropped — and
        the accepted set flows on."""
        fp0 = _fingerprint("input", self.input_fingerprint)

        accepted, rejected = validate_turns(transcripts)
        _rej, fp0r = self._stage("rejected", fp0, lambda: rejected)

        labeled, fp1 = self._stage(
            "labeled", fp0r, lambda: annotate_turns(accepted, scorer=self.scorer)
        )
        mentions, fp2 = self._stage(
            "mentions", fp1, lambda: extract_mentions(labeled)
        )
        gaz = gazetteer_df(self.spark)
        linked, fp3 = self._stage(
            "linked",
            fp2,
            lambda: link_mentions(mentions, gaz, fuzzy=self.fuzzy_linking),
        )
        canonical, fp4 = self._stage(
            "canonical", fp3, lambda: canonicalize_mentions(linked)
        )
        triples, _fp5 = self._stage(
            "triples", fp4, lambda: emit_triples(canonical)
        )
        return triples
