"""End-to-end KG-construction pipeline with snapshot resume + lineage.

``kg_dataflow`` is the one definition of the dataflow

    transcripts → labeled → mentions → linked → canonical → triples

and ``PipelineRun`` runs it with each stage materialized as an atomic
table snapshot (after a ``rejected`` quarantine snapshot).

Snapshot layer: ``SnapshotStore``, a parquet-directory store — atomic
publish (write to a tmp dir, rename the old snapshot aside, rename the
tmp dir in), a manifest carrying the stage's input fingerprint, the
schema of the written files and lineage rows (rows per write task, read
from the written part files' parquet footers). Resume: a stage whose
manifest fingerprint matches its input's is skipped and its snapshot
read back (north rule: "checkpoints per snapshot so any stage resumes
without recompute"). A read-back takes its schema from the manifest, so
it runs no Spark job.

The fingerprint is a hash of (stage name, config, upstream fingerprint),
NOT wall-clock, so reruns are byte-stable. The first upstream is the
input's fingerprint plus a digest of the package sources
(``code_digest``), so a code change re-runs every stage. A file-backed
input is keyed on its content listing (``input_fingerprint``), not its
path.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import cache
from hashlib import sha256
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from nametag3_spark.data.synth import gazetteer_df
from nametag3_spark.operators.canonicalize import canonicalize_incremental
from nametag3_spark.operators.infer import annotate_turns, scorer_loader
from nametag3_spark.operators.linking import link_mentions
from nametag3_spark.operators.skew import spread_if_narrow
from nametag3_spark.operators.triples import emit_triples, extract_mentions
from nametag3_spark.operators.validate import validate_turns


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
        # the manifest's schema: parquet inference runs a footer-reading job
        schema = StructType.fromJson(self.manifest(name)["schema"])
        return spark.read.schema(schema).parquet(os.path.join(self._dir(name), "data"))

    def write(
        self,
        df: DataFrame,
        name: str,
        fingerprint: str,
        partition_by: list[str] | None = None,
    ) -> dict:
        """Materialize + publish atomically; returns the manifest: the
        row count, the rows each write task wrote (``partition_id`` is
        the task number in the part file name), read from the footers
        of the files just written, and the files' schema (``df.schema``
        less the ``partition_by`` columns, typed from directory names)."""
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
            "schema": df.drop(*(partition_by or [])).schema.jsonValue(),
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


@cache
def code_digest() -> str:
    """Digest of this package's Python sources (sorted relative paths and
    file bytes), computed once per process. It is part of the input
    fingerprint, so snapshots written by other code re-run instead of
    being reused."""
    root = Path(__file__).parent
    h = sha256()
    for path in sorted(root.rglob("*.py")):
        h.update(path.relative_to(root).as_posix().encode() + b"\0")
        h.update(path.read_bytes() + b"\0")
    return h.hexdigest()[:16]


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


def build_now(name: str, build: Callable[[], DataFrame]) -> DataFrame:
    """The default ``kg_dataflow`` stage hook: build the frame, keep nothing."""
    return build()


@contextmanager
def persisted_mentions():
    """A ``kg_dataflow`` stage hook that persists ``mentions`` (linking
    and canonicalization both scan it) until the block exits."""
    held: list[DataFrame] = []

    def stage(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        df = build()
        if name == "mentions":
            df = df.persist()
            held.append(df)
        return df

    try:
        yield stage
    finally:
        for df in held:
            df.unpersist()


def kg_dataflow(
    turns: DataFrame,
    *,
    scorer: str = "oracle",
    fuzzy: bool = True,
    catalog: DataFrame | None = None,
    stage: Callable[[str, Callable[[], DataFrame]], DataFrame] = build_now,
) -> dict[str, DataFrame | None]:
    """The one transcripts→triples dataflow: the batch run, the stream,
    the bench and the driver entry all call it.

    Returns the frames ``labeled``, ``mentions``, ``linked``,
    ``canonical``, ``triples`` and ``catalog`` (the surface→canonical
    rows minted beyond ``catalog``; None when the hook did not build the
    canonical stage). Each stage goes through ``stage(name, build)``,
    ``build`` a zero-argument thunk, so a hook that resumes a snapshot
    never builds it (no linking ``approx_count_distinct``, no CC
    ``collect``).

    A narrow input is hash-spread on (conv_id, turn_idx) before scoring:
    scoring is per turn, so this neutralizes hot-conversation skew."""
    spark = turns.sparkSession
    labeled = stage(
        "labeled",
        lambda: annotate_turns(
            spread_if_narrow(turns, "conv_id", "turn_idx", factor=2), scorer=scorer
        ),
    )
    mentions = stage("mentions", lambda: extract_mentions(labeled))
    linked = stage(
        "linked", lambda: link_mentions(mentions, gazetteer_df(spark), fuzzy=fuzzy)
    )
    minted: dict[str, DataFrame] = {}

    def canonicalize() -> DataFrame:
        canonical, minted["catalog"] = canonicalize_incremental(linked, catalog)
        return canonical

    canonical = stage("canonical", canonicalize)
    triples = stage("triples", lambda: emit_triples(canonical))
    return {
        "labeled": labeled,
        "mentions": mentions,
        "linked": linked,
        "canonical": canonical,
        "triples": triples,
        "catalog": minted.get("catalog"),
    }


@dataclass
class PipelineRun:
    """Runs ``kg_dataflow`` with every stage snapshot-resumable."""

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

    def run(self, transcripts: DataFrame) -> DataFrame:
        """transcripts → triples table; returns the triples DataFrame.

        Invalid turns (oversize / null keys, P10) are quarantined into
        their own ``rejected`` snapshot — never silently dropped — and
        the accepted set flows on."""
        self.stages_run, self.stages_skipped = [], []
        upstream = _fingerprint("input", self.input_fingerprint, code_digest())

        def stage(name: str, build: Callable[[], DataFrame]) -> DataFrame:
            nonlocal upstream
            upstream = _fingerprint(
                name, self.scorer, str(self.fuzzy_linking), upstream
            )
            if self.store.is_current(name, upstream):
                self.stages_skipped.append(name)
            else:
                self.store.write(build(), name, upstream)
                self.stages_run.append(name)
            return self.store.read(self.spark, name)

        accepted, rejected = validate_turns(transcripts)
        stage("rejected", lambda: rejected)
        frames = kg_dataflow(
            accepted, scorer=self.scorer, fuzzy=self.fuzzy_linking, stage=stage
        )
        return frames["triples"]
