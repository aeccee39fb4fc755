"""Physical layout for a materialized (subj, pred, obj) triple store.

The BGP compiler's two scan-side levers (`operators/bgp.py` module
docstring) both come from layout, not from the query plan:

* **predicate partitioning**: a pattern with a literal predicate reads
  exactly one ``pred=…`` directory (partition pruning) instead of
  scanning the store;
* **subject bucketing** (+ in-bucket sort): every star-join leg arrives
  pre-hashed on ``subj``, so the self-joins the SPARQL core is made of
  run WITHOUT a shuffle exchange — the dominant cost of a 100 TB BGP
  is paid once, at write time.

This is the parquet/metastore analog of the Iceberg layout the north
rule targets (partition spec + sorted write distribution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_triple_store(
    df: DataFrame,
    table: str,
    n_buckets: int = 32,
    subj_col: str = "subj",
    pred_col: str = "pred",
) -> None:
    """Persist triples partitioned by predicate and bucketed+sorted on
    subject. ``n_buckets`` should track corpus size (buckets are the
    join parallelism floor; 32 suits the test scale, thousands suit
    100 TB)."""
    (
        df.write.mode("overwrite")
        .partitionBy(pred_col)
        .bucketBy(n_buckets, subj_col)
        .sortBy(subj_col)
        .format("parquet")
        .saveAsTable(table)
    )


def read_triple_store(spark: SparkSession, table: str) -> DataFrame:
    """Read back with bucketing metadata intact (``spark.table``, not a
    path read — a plain parquet path read would drop the bucket spec
    and reintroduce the exchange)."""
    return spark.table(table)


def compact_epochs(
    spark: SparkSession,
    output_dir: str,
    keep_last: int = 2,
    target_files: int = 1,
    epoch_col: str = "epoch_id",
) -> list[int]:
    """Fold finalized epoch partitions of a streaming sink's output
    (``.partitionBy(epoch_id)`` parquet — `streaming/stream.py`) into
    ONE base partition (``epoch_id=-1``) of ``target_files`` files:
    the small-files maintenance op a 10^12-turn append-only store
    needs, run periodically out-of-band.

    The newest ``keep_last`` epochs stay un-compacted — with an intact
    checkpoint only the trailing epoch can replay, and exactly-once
    relies on dynamic partition overwrite of THAT epoch directory.
    A ``_compaction_manifest.json`` at the output root records folded
    epochs, making re-runs idempotent: a folded-but-undeleted epoch
    directory (crash between manifest write and delete) is deleted
    without re-folding. The crash window between the base rewrite and
    the manifest write is covered by a pre-commit
    ``_compaction_intent.json`` (written BEFORE the rewrite, with the
    planned epochs and the expected post-fold base row count): on the
    next run, a leftover intent whose expected count matches the base's
    parquet-metadata count means the rewrite COMMITTED and only the
    manifest/delete steps were lost — they are completed without
    re-folding (re-folding would duplicate those epochs' rows in the
    base); a mismatch means the rewrite never committed and compaction
    proceeds fresh. Iceberg's atomic snapshot commit remains the
    production path; after a checkpoint LOSS, delete the whole output
    dir (the already-documented full-replay recovery). Returns the
    epochs folded."""
    import json as _json

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path_cls = jvm.org.apache.hadoop.fs.Path
    root = path_cls(output_dir)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return []

    def _read_json(path):
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(fs.open(path), "UTF-8")
        )
        try:
            parts = []
            while True:
                line = reader.readLine()
                if line is None:
                    break
                parts.append(line)
            return _json.loads("".join(parts) or "null")
        finally:
            reader.close()

    def _write_json(path, payload):
        out = fs.create(path, True)
        try:
            out.write(bytearray(_json.dumps(payload).encode()))
        finally:
            out.close()

    # the underscore prefix keeps the manifest INVISIBLE to Spark's
    # readers (hiddenFileFilter), so whole-directory parquet reads of
    # the store never trip over it — which also means it must be read
    # through the Hadoop FS API, not spark.read
    manifest_path = path_cls(output_dir + "/_compaction_manifest.json")
    intent_path = path_cls(output_dir + "/_compaction_intent.json")
    folded: set[int] = set()
    if fs.exists(manifest_path):
        folded = set(_read_json(manifest_path) or [])

    # epoch dirs present on disk (directory listing, no data scan)
    present: dict[int, object] = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(epoch_col + "="):
            try:
                present[int(name.split("=", 1)[1])] = st.getPath()
            except ValueError:
                continue
    # 1) repair: folded-but-undeleted dirs are deleted, never re-read
    for ep in sorted(folded):
        if ep in present and ep != -1:
            fs.delete(present.pop(ep), True)

    # 1b) repair an interrupted previous compaction (leftover intent):
    # if every planned epoch is still on disk and the base row count
    # (parquet footer metadata — no data scan) equals the intent's
    # expected post-fold count, the base rewrite COMMITTED and only the
    # manifest/delete steps were lost — complete them WITHOUT
    # re-folding. Any other state means the rewrite never committed
    # (dynamic overwrite commits atomically at job end) or the manifest
    # step already ran (step 1 covered it): drop the intent and plan
    # fresh.
    if fs.exists(intent_path):
        intent = _read_json(intent_path) or {}
        plan = [ep for ep in intent.get("epochs", []) if ep != -1]
        base_dir = output_dir + f"/{epoch_col}=-1"
        if plan and all(ep in present for ep in plan):
            try:
                n_base = spark.read.parquet(base_dir).count()
            except Exception:
                n_base = -1
            if n_base == intent.get("expected_base_rows"):
                _write_json(manifest_path, sorted(folded | set(plan)))
                folded |= set(plan)
                for ep in plan:
                    fs.delete(present.pop(ep), True)
                fs.delete(intent_path, False)
                return plan
        fs.delete(intent_path, False)

    live = sorted(ep for ep in present if ep != -1)
    to_fold = live[: max(0, len(live) - keep_last)]
    if not to_fold:
        return []

    # 2) base partition rewrite: old base rows + the folded epochs,
    #    via dynamic partition overwrite (touches ONLY epoch_id=-1)
    from pyspark.sql import functions as F

    df = spark.read.option("basePath", output_dir).parquet(
        *(
            [str(present[ep]) for ep in to_fold]
            + ([output_dir + f"/{epoch_col}=-1"] if -1 in present else [])
        )
    )
    # 2a) pre-commit intent BEFORE the rewrite: the planned epochs plus
    #     the expected post-fold base row count (parquet-footer count of
    #     the rewrite's own input — cheap, no data scan), so a crash
    #     between the rewrite commit and the manifest write is
    #     detectable instead of silently double-folding on the re-run
    _write_json(
        intent_path,
        {"epochs": sorted(to_fold), "expected_base_rows": df.count()},
    )
    with_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.withColumn(epoch_col, F.lit(-1))
            .coalesce(target_files)
            .write.mode("overwrite")
            .partitionBy(epoch_col)
            .parquet(output_dir)
        )
    finally:
        if with_mode is not None:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", with_mode)

    # 3) manifest BEFORE deletion: a crash past this point leaves only
    #    folded-and-listed dirs, which step 1 removes on the next run
    _write_json(manifest_path, sorted(folded | set(to_fold)))
    for ep in to_fold:
        fs.delete(present[ep], True)
    fs.delete(intent_path, False)
    return to_fold


# ---- N-Triples interop (the RDF line format every KG tool reads) ------

_NT_BASE = "urn:kg:"


def _nt_escape(col):
    """N-Triples string-literal escaping (W3C RDF 1.1 N-Triples §2.4):
    backslash first, then quote, then the control characters."""
    from pyspark.sql import functions as F

    out = F.regexp_replace(col, r"\\", r"\\\\")
    out = F.regexp_replace(out, '"', '\\\\"')
    out = F.regexp_replace(out, "\n", "\\\\n")
    out = F.regexp_replace(out, "\r", "\\\\r")
    out = F.regexp_replace(out, "\t", "\\\\t")
    return out


def to_ntriples(
    df: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    base: str = _NT_BASE,
) -> DataFrame:
    """Serialize (subj, pred, obj) rows to N-Triples lines — one
    ``value`` string column, writable with ``.write.text(...)``.
    Subjects/predicates become IRIs under ``base`` (percent-escaping
    the IRI-unsafe characters); objects are emitted as quoted string
    LITERALS (this engine's object values are strings). Entirely
    JVM-side column expressions — no Python in the serializer."""
    from pyspark.sql import functions as F

    def iri(c):
        # percent-encode the few characters N-Triples IRIs forbid
        enc = F.regexp_replace(c, "%", "%25")
        enc = F.regexp_replace(enc, " ", "%20")
        enc = F.regexp_replace(enc, "<", "%3C")
        enc = F.regexp_replace(enc, ">", "%3E")
        enc = F.regexp_replace(enc, '"', "%22")
        return F.concat(F.lit("<" + base), enc, F.lit(">"))

    return df.select(
        F.concat(
            iri(F.col(subj_col)),
            F.lit(" "),
            iri(F.col(pred_col)),
            F.lit(' "'),
            _nt_escape(F.col(obj_col)),
            F.lit('" .'),
        ).alias("value")
    )


def from_ntriples(lines: DataFrame, base: str = _NT_BASE) -> DataFrame:
    """Parse N-Triples lines of the shape ``to_ntriples`` emits back to
    (subj, pred, obj) — the round-trip reader for stores exchanged
    with other RDF tools. Lines that don't match (comments, blank
    lines) are dropped. JVM-side regex extraction, no Python."""
    from pyspark.sql import functions as F

    pat = r'^<([^>]*)> <([^>]*)> "(.*)" \.$'
    col = F.col("value")
    out = (
        lines.where(col.rlike(pat))
        .select(
            F.regexp_extract(col, pat, 1).alias("subj"),
            F.regexp_extract(col, pat, 2).alias("pred"),
            F.regexp_extract(col, pat, 3).alias("obj"),
        )
    )

    def unesc(c):
        # one left-to-right pass: split on the escaped-backslash pair,
        # unescape inside each piece, rejoin with one backslash — so
        # the "\n" in an escaped "\\new" stays a backslash and an "n"
        def piece(o):
            o = F.regexp_replace(o, r"\\t", "\t")
            o = F.regexp_replace(o, r"\\r", "\r")
            o = F.regexp_replace(o, r"\\n", "\n")
            return F.regexp_replace(o, r'\\"', '"')

        return F.array_join(
            F.transform(F.split(c, r"\\\\"), piece), "\\"
        )

    def deiri(c):
        s = F.regexp_replace(c, "^" + base.replace(":", "\\:"), "")
        s = F.regexp_replace(s, "%3E", ">")
        s = F.regexp_replace(s, "%3C", "<")
        s = F.regexp_replace(s, "%22", '"')
        s = F.regexp_replace(s, "%20", " ")
        return F.regexp_replace(s, "%25", "%")

    return out.select(
        deiri(F.col("subj")).alias("subj"),
        deiri(F.col("pred")).alias("pred"),
        unesc(F.col("obj")).alias("obj"),
    )
