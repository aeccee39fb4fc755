"""Streaming pipeline: micro-batch triples == batch triples; windowed agg."""

from __future__ import annotations

from pyspark.sql import functions as F

from nametag3_spark.data.synth import synth_transcripts
from nametag3_spark.pipeline import kg_dataflow
from nametag3_spark.streaming.stream import (
    read_transcript_stream,
    start_triples_stream,
    stream_left_context,
    turns_per_minute,
)


def test_stream_triples_match_batch(spark, tmp_path):
    transcripts = synth_transcripts(spark, n_convs=8, avg_turns=5)
    in_dir = str(tmp_path / "in")
    # several files → several micro-batches
    transcripts.repartition(4).write.parquet(in_dir)

    out_dir = str(tmp_path / "out")
    q = start_triples_stream(
        spark, in_dir, out_dir, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)

    streamed = spark.read.parquet(out_dir).drop("epoch_id")

    batch = kg_dataflow(transcripts, fuzzy=False)["triples"]

    # micro-batching splits conversations across batches, so canonical ids
    # may differ only for surfaces never linked; compare the linked subset
    s = {tuple(r) for r in streamed.where(F.col("subj").startswith("e:")).collect()}
    b = {tuple(r) for r in batch.where(F.col("subj").startswith("e:")).collect()}
    # every batch-linked triple whose obj is also stable appears streamed
    assert b == s or (b - s == set() and len(s) >= len(b))


def test_stream_restart_is_idempotent(spark, tmp_path):
    transcripts = synth_transcripts(spark, n_convs=4, avg_turns=4)
    in_dir = str(tmp_path / "in")
    transcripts.repartition(2).write.parquet(in_dir)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q1 = start_triples_stream(spark, in_dir, out_dir, ckpt)
    q1.awaitTermination(300)
    n1 = spark.read.parquet(out_dir).count()

    # restart with same checkpoint: no new files → no duplicate output
    q2 = start_triples_stream(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(300)
    n2 = spark.read.parquet(out_dir).count()
    assert n1 == n2 > 0


def test_turns_per_minute_window(spark, tmp_path):
    transcripts = synth_transcripts(spark, n_convs=6, avg_turns=5)
    in_dir = str(tmp_path / "in")
    transcripts.write.parquet(in_dir)
    stream = read_transcript_stream(spark, in_dir)
    agg = turns_per_minute(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tpm")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    result = spark.sql("SELECT * FROM tpm")
    assert result.count() > 0
    total = result.agg(F.sum("n_turns")).collect()[0][0]
    assert total == transcripts.count()


def test_stream_left_context_state_carries_across_batches(spark, tmp_path):
    """applyInPandasWithState: a conversation's rolling token tail lives
    in keyed state, so turns arriving in a LATER micro-batch see context
    from earlier batches — and the state stays hard-bounded at
    max_context tokens (eviction before append, the batch T4 rule)."""
    import time

    schema = "conv_id string, turn_idx int, tokens array<string>"
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [("c1", 0, ["a", "b"]), ("c1", 1, ["c"]), ("c2", 0, ["x"])], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    time.sleep(1.1)  # distinct mtimes → file source orders the batches
    spark.createDataFrame(
        [("c1", 2, ["d", "e"]), ("c2", 1, ["y"])], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        stream_left_context(stream, max_context=3)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("lctx")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # the statefulness claim needs >1 non-empty micro-batch
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2

    rows = {
        (r["conv_id"], r["turn_idx"]): list(r["context"])
        for r in spark.sql("SELECT * FROM lctx").collect()
    }
    assert rows[("c1", 0)] == []
    assert rows[("c1", 1)] == ["a", "b"]
    # turn 2 arrived in batch 2: its context came FROM STATE
    assert rows[("c1", 2)] == ["a", "b", "c"]
    assert rows[("c2", 0)] == []
    assert rows[("c2", 1)] == ["x"]
    assert all(len(ctx) <= 3 for ctx in rows.values())


def test_canonicalize_incremental_pins_cataloged_surfaces(spark):
    """Catalog-stable ER: a surface canonicalized in an earlier epoch
    keeps its id even when the new batch's link evidence differs (here:
    the entity link is absent in batch 2); only novel surfaces mint
    catalog rows."""
    from nametag3_spark.operators.canonicalize import canonicalize_incremental

    schema = "mention_norm string, label string, entity_id string"
    b1 = spark.createDataFrame([("acme", "ORG", "E1")], schema)
    c1, cat1 = canonicalize_incremental(b1, None)
    assert c1.collect()[0]["entity_canonical"] == "e:E1"
    assert {(r["surf_node"], r["entity_canonical"]) for r in cat1.collect()} == {
        ("m:acme|ORG", "e:E1")
    }

    b2 = spark.createDataFrame(
        [("acme", "ORG", None), ("zorp", "ORG", None)], schema
    )
    c2, cat2 = canonicalize_incremental(b2, cat1)
    got = {r["mention_norm"]: r["entity_canonical"] for r in c2.collect()}
    # without the catalog batch 2 would mint m:acme|ORG — the catalog pins e:E1
    assert got == {"acme": "e:E1", "zorp": "m:zorp|ORG"}
    assert {r["surf_node"] for r in cat2.collect()} == {"m:zorp|ORG"}


def test_stream_catalog_unique_surfaces_and_replay(spark, tmp_path):
    """With catalog_dir: every surface is minted by exactly ONE epoch
    (later epochs reuse it — cross-batch canonical stability), and a
    full checkpoint-loss replay reproduces identical triples AND an
    identical catalog (the exactly-once contract extends to the
    catalog's epoch partitions)."""
    import shutil

    transcripts = synth_transcripts(spark, n_convs=8, avg_turns=5)
    in_dir = str(tmp_path / "in")
    transcripts.repartition(8).write.parquet(in_dir)  # >1 micro-batch
    out_dir, ckpt, cat_dir = (
        str(tmp_path / "out"), str(tmp_path / "ckpt"), str(tmp_path / "cat")
    )

    q = start_triples_stream(spark, in_dir, out_dir, ckpt, catalog_dir=cat_dir)
    q.awaitTermination(300)
    triples1 = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    cat1 = sorted(map(tuple, spark.read.parquet(cat_dir).collect()))
    assert spark.read.parquet(out_dir).select("epoch_id").distinct().count() >= 2
    dup_surfaces = (
        spark.read.parquet(cat_dir)
        .groupBy("surf_node").count().where(F.col("count") > 1).count()
    )
    assert dup_surfaces == 0
    assert len(cat1) > 0

    shutil.rmtree(ckpt)  # worst case: every epoch replays
    q2 = start_triples_stream(spark, in_dir, out_dir, ckpt, catalog_dir=cat_dir)
    q2.awaitTermination(300)
    assert sorted(map(tuple, spark.read.parquet(out_dir).collect())) == triples1
    assert sorted(map(tuple, spark.read.parquet(cat_dir).collect())) == cat1


def test_stream_dedup_exact_drops_rearrivals_within_watermark(spark, tmp_path):
    """Streaming exact dedup: a duplicate document arriving in a LATER
    micro-batch (within the watermark) is dropped; distinct content all
    survives. Uses dropDuplicatesWithinWatermark so dedup state is
    bounded by the watermark, not by corpus history."""
    import datetime
    import time

    from nametag3_spark.streaming.stream import stream_dedup_exact

    schema = "doc_id long, text string, ts timestamp"
    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "same content here", t0), (2, "other content", t0)], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    time.sleep(1.1)  # distinct mtimes → file source orders the batches
    spark.createDataFrame(
        [
            (3, "Same Content Here ", t0 + datetime.timedelta(minutes=1)),
            (4, "fresh content", t0 + datetime.timedelta(minutes=1)),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        stream_dedup_exact(stream, watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sdedup")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2

    kept = {r["doc_id"] for r in spark.sql("SELECT * FROM sdedup").collect()}
    # doc 3 normalizes to doc 1's content (case+trim) and arrived later
    # within the watermark → dropped; everything else kept
    assert kept == {1, 2, 4}


def test_stream_replay_overwrites_epoch_not_appends(spark, tmp_path):
    """Losing the checkpoint (worst-case replay: every micro-batch reruns)
    must NOT duplicate output: each epoch dynamically overwrites its own
    epoch_id partition, so at-least-once delivery × idempotent write =
    exactly-once output."""
    import shutil

    transcripts = synth_transcripts(spark, n_convs=4, avg_turns=4)
    in_dir = str(tmp_path / "in")
    transcripts.repartition(2).write.parquet(in_dir)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q1 = start_triples_stream(spark, in_dir, out_dir, ckpt)
    q1.awaitTermination(300)
    rows1 = sorted(map(tuple, spark.read.parquet(out_dir).collect()))

    shutil.rmtree(ckpt)  # full replay of all epochs
    q2 = start_triples_stream(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(300)
    rows2 = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    assert len(rows1) > 0
    assert rows1 == rows2


def test_stream_catalog_read_errors_fail_the_batch(spark, tmp_path):
    """A catalog dir that EXISTS but cannot be read (corrupt footer) must
    fail the micro-batch so the streaming query retries — silently
    running catalog-free would re-mint already-cataloged surfaces under
    fresh canonical ids and break cross-epoch id stability (round-3
    ADVICE: only the two legitimate empty-catalog shapes may proceed)."""
    import pytest
    from pyspark.errors import StreamingQueryException

    transcripts = synth_transcripts(spark, n_convs=3, avg_turns=4)
    in_dir = str(tmp_path / "in")
    transcripts.write.parquet(in_dir)
    cat_part = tmp_path / "cat" / "epoch_id=0"
    cat_part.mkdir(parents=True)
    (cat_part / "part-00000.parquet").write_bytes(b"this is not parquet")

    q = start_triples_stream(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        catalog_dir=str(tmp_path / "cat"),
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(300)


def test_earlier_epochs_empty_store_allow_list(spark, tmp_path):
    """The epoch-store reader shared by every exactly-once sink: a missing
    dir or one with no data files is the empty store (None); any other
    AnalysisException propagates; a readable store yields only epochs
    strictly before the current one."""
    import pytest
    from pyspark.errors import AnalysisException

    from nametag3_spark.streaming.stream import _earlier_epochs, _write_epoch

    cols = ["subj", "pred", "obj"]

    def facts(subj):
        return spark.createDataFrame(
            [(subj, "p", "o")], "subj string, pred string, obj string"
        )

    assert _earlier_epochs(spark, str(tmp_path / "missing"), 3, cols) is None
    (tmp_path / "empty").mkdir()
    assert _earlier_epochs(spark, str(tmp_path / "empty"), 3, cols) is None

    # a store without the epoch_id partition column is not an empty store
    flat = str(tmp_path / "flat")
    facts("a").write.parquet(flat)
    with pytest.raises(AnalysisException):
        _earlier_epochs(spark, flat, 3, cols)

    store = str(tmp_path / "store")
    for epoch in (0, 1, 2):
        _write_epoch(facts(f"s{epoch}"), epoch, store)
    # a replay of epoch 1 rewrites its own partition, not appends to it
    _write_epoch(facts("s1"), 1, store)
    got = [r["subj"] for r in _earlier_epochs(spark, store, 2, cols).collect()]
    assert sorted(got) == ["s0", "s1"]


def test_streaming_inference_matches_batch_rule_engine(spark, tmp_path):
    """Incremental semi-naive inference over a multi-micro-batch triple
    stream must converge to the same fact set as the batch rule engine
    on the full input — epoch order must not matter for a monotone
    rule set, and no fact may appear in two epochs."""
    from nametag3_spark.operators.bgp import apply_rules
    from nametag3_spark.streaming.stream import start_inference_stream

    chain = [(f"n{i}", "parent", f"n{i+1}") for i in range(4)]
    extra = [("n2", "parent", "m0"), ("m0", "parent", "m1")]
    facts = chain + extra
    tri = spark.createDataFrame(facts, "subj string, pred string, obj string")
    rules = [
        ([("?x", "parent", "?y")], [("?x", "anc", "?y")]),
        ([("?x", "anc", "?y"), ("?y", "anc", "?z")], [("?x", "anc", "?z")]),
    ]

    in_dir = str(tmp_path / "in")
    # several files -> several micro-batches, arbitrary fact order
    tri.repartition(3).write.parquet(in_dir)
    store = str(tmp_path / "store")
    q = start_inference_stream(
        spark, in_dir, store, str(tmp_path / "ckpt"), rules,
        rounds=4, max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    streamed = spark.read.parquet(store)
    got = {(r.subj, r.pred, r.obj) for r in streamed.collect()}
    want = {tuple(r) for r in apply_rules(tri, rules, rounds=4).collect()}
    assert got == want
    # exactly-once per fact: no fact in two epoch partitions
    assert streamed.count() == len(got)


def test_streaming_inference_restart_is_idempotent(spark, tmp_path):
    from nametag3_spark.streaming.stream import start_inference_stream

    tri = spark.createDataFrame(
        [("a", "parent", "b"), ("b", "parent", "c")],
        "subj string, pred string, obj string",
    )
    rules = [
        ([("?x", "parent", "?y")], [("?x", "anc", "?y")]),
        ([("?x", "anc", "?y"), ("?y", "anc", "?z")], [("?x", "anc", "?z")]),
    ]
    in_dir = str(tmp_path / "in")
    tri.repartition(2).write.parquet(in_dir)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    q1 = start_inference_stream(spark, in_dir, store, ckpt, rules, rounds=2)
    q1.awaitTermination(300)
    first = sorted(
        (r.subj, r.pred, r.obj, r.epoch_id)
        for r in spark.read.parquet(store).collect()
    )
    # restart with the same checkpoint: nothing new to process
    q2 = start_inference_stream(spark, in_dir, store, ckpt, rules, rounds=2)
    q2.awaitTermination(300)
    second = sorted(
        (r.subj, r.pred, r.obj, r.epoch_id)
        for r in spark.read.parquet(store).collect()
    )
    assert first == second
    anc = {(s, o) for s, p, o, _ in first if p == "anc"}
    assert anc == {("a", "b"), ("b", "c"), ("a", "c")}


def test_streaming_inference_runs_closure_rules(spark, tmp_path):
    """The stream takes the rule sets ``apply_rules`` takes, closures
    included: a closure behind a sequence (``p+/q``) and one over a
    derived predicate converge, over several micro-batches, to the
    batch rule engine on the full input. A malformed term still raises
    before any stream starts."""
    import pytest as _pytest

    from nametag3_spark.operators.bgp import apply_rules
    from nametag3_spark.streaming.stream import start_inference_stream

    tri = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "a"), ("c", "p", "d"),
         ("d", "q", "e"), ("b", "q", "f"), ("f", "r", "a"), ("e", "r", "d"),
         ("e", "p", "e")],
        "subj string, pred string, obj string",
    )
    rules = [
        ([("?x", "p+/q", "?y")], [("?x", "pq", "?y")]),
        ([("?x", "p", "?y"), ("?y", "p", "?z")], [("?x", "d", "?z")]),
        ([("?x", "d+", "?y")], [("?x", "dd", "?y")]),
        ([("?x", "dd", "?y"), ("?y", "q", "?z")], [("?x", "ddq", "?z")]),
    ]
    in_dir = str(tmp_path / "in")
    tri.repartition(3).write.parquet(in_dir)
    store = str(tmp_path / "store")
    with _pytest.raises(ValueError, match="unmatched"):
        start_inference_stream(
            spark, in_dir, store, str(tmp_path / "bad"),
            [([("?x", "(p|q/r", "?y")], [("?x", "s", "?y")])],
        )
    assert spark.streams.active == []

    q = start_inference_stream(
        spark, in_dir, store, str(tmp_path / "ckpt"), rules,
        rounds=3, max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    streamed = spark.read.parquet(store)
    assert streamed.select("epoch_id").distinct().count() > 1
    got = {(r.subj, r.pred, r.obj) for r in streamed.collect()}
    want = {tuple(r) for r in apply_rules(tri, rules, rounds=3).collect()}
    assert got == want
    assert {p for _s, p, _o in got} >= {"pq", "dd", "ddq"}
    assert streamed.count() == len(got)

def test_compact_epochs_folds_preserves_and_repairs(spark, tmp_path):
    """Epoch compaction: folds finalized epochs into one base
    partition (rows preserved, file count shrinks), keeps the newest
    keep_last epochs replay-safe, is idempotent, and the manifest
    repair path deletes a folded-but-undeleted epoch dir WITHOUT
    re-folding (no duplicate rows after a simulated crash)."""
    import glob

    from pyspark.sql import functions as F

    from nametag3_spark.sources.triplestore import compact_epochs

    out = str(tmp_path / "epochs")
    for ep in range(5):
        (
            spark.range(ep * 10, ep * 10 + 10)
            .withColumn("epoch_id", F.lit(ep))
            .repartition(3)
            .write.mode("append")
            .partitionBy("epoch_id")
            .parquet(out)
        )
    before = sorted(r.id for r in spark.read.parquet(out).collect())
    n_files_before = len(glob.glob(out + "/epoch_id=*/*.parquet"))

    assert compact_epochs(spark, out, keep_last=2, target_files=1) == [0, 1, 2]
    after = spark.read.parquet(out)
    assert sorted(r.id for r in after.collect()) == before
    assert len(glob.glob(out + "/epoch_id=*/*.parquet")) < n_files_before
    assert sorted(
        r.epoch_id for r in after.select("epoch_id").distinct().collect()
    ) == [-1, 3, 4]
    # idempotent
    assert compact_epochs(spark, out, keep_last=2) == []

    # simulated crash: a folded epoch dir reappears (manifest lists it)
    (
        spark.range(0, 10)
        .withColumn("epoch_id", F.lit(1))
        .write.mode("append")
        .partitionBy("epoch_id")
        .parquet(out)
    )
    assert compact_epochs(spark, out, keep_last=2) == []  # repair, no re-fold
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == before

    # a new epoch arrives -> the oldest kept epoch folds next
    (
        spark.range(50, 60)
        .withColumn("epoch_id", F.lit(5))
        .write.mode("append")
        .partitionBy("epoch_id")
        .parquet(out)
    )
    assert compact_epochs(spark, out, keep_last=2) == [3]
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == sorted(
        before + list(range(50, 60))
    )


def _epoch_store(spark, out: str, n_epochs: int = 5) -> list[int]:
    from pyspark.sql import functions as F

    for ep in range(n_epochs):
        (
            spark.range(ep * 10, ep * 10 + 10)
            .withColumn("epoch_id", F.lit(ep))
            .write.mode("append")
            .partitionBy("epoch_id")
            .parquet(out)
        )
    return sorted(r.id for r in spark.read.parquet(out).collect())


def test_compact_epochs_intent_repair_after_rewrite_commit(spark, tmp_path):
    """Crash window between the base rewrite's commit and the manifest
    write: the leftover intent (planned epochs + expected base rows)
    lets the next run recognize the rewrite COMMITTED and complete the
    manifest/delete steps WITHOUT re-folding — re-folding would
    duplicate every folded row in the base."""
    import json

    from pyspark.sql import functions as F

    from nametag3_spark.sources.triplestore import compact_epochs

    out = str(tmp_path / "epochs")
    before = _epoch_store(spark, out)
    # simulate the crash state: base rewrite committed (rows 0..29 at
    # epoch_id=-1), epoch dirs 0-2 still present, intent on disk, NO
    # manifest — exactly what a crash right after the write job leaves
    (
        spark.range(0, 30)
        .withColumn("epoch_id", F.lit(-1))
        .write.mode("append")
        .partitionBy("epoch_id")
        .parquet(out)
    )
    (tmp_path / "epochs" / "_compaction_intent.json").write_text(
        json.dumps({"epochs": [0, 1, 2], "expected_base_rows": 30})
    )
    assert compact_epochs(spark, out, keep_last=2) == [0, 1, 2]
    after = spark.read.parquet(out)
    # every id exactly once — the re-run did NOT fold the epochs again
    assert sorted(r.id for r in after.collect()) == before
    assert sorted(
        r.epoch_id for r in after.select("epoch_id").distinct().collect()
    ) == [-1, 3, 4]
    # the intent is consumed; a further run is a no-op
    assert not (tmp_path / "epochs" / "_compaction_intent.json").exists()
    assert compact_epochs(spark, out, keep_last=2) == []


def test_compact_epochs_intent_mismatch_folds_fresh(spark, tmp_path):
    """A leftover intent whose expected count does NOT match the base
    (crash BEFORE the rewrite committed) is discarded and compaction
    proceeds normally — still exactly-once."""
    import json

    from nametag3_spark.sources.triplestore import compact_epochs

    out = str(tmp_path / "epochs")
    before = _epoch_store(spark, out)
    (tmp_path / "epochs" / "_compaction_intent.json").write_text(
        json.dumps({"epochs": [0, 1, 2], "expected_base_rows": 30})
    )
    # no base exists -> count mismatch -> fresh fold
    assert compact_epochs(spark, out, keep_last=2) == [0, 1, 2]
    after = spark.read.parquet(out)
    assert sorted(r.id for r in after.collect()) == before
    assert not (tmp_path / "epochs" / "_compaction_intent.json").exists()


def test_ntriples_roundtrip(spark, tmp_path):
    """N-Triples sink/source: W3C escaping (quotes, newlines, tabs,
    backslash, IRI-unsafe chars) round-trips exactly, through an
    actual .text() write/read; comment lines are dropped on read."""
    from nametag3_spark.sources.triplestore import from_ntriples, to_ntriples

    rows = [
        ("e:E1", "mentions", 'say "hi"\nnow'),
        ("e 2", "rel%x", "tab\there \\ back"),
        ("plain", "p", "v"),
        ("p", "q", "C:\\new\\temp"),
    ]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = str(tmp_path / "nt")
    to_ntriples(df).write.text(out)
    lines = spark.read.text(out)
    # every emitted line is one triple terminated by ' .'
    assert lines.count() == len(rows)
    extra = spark.createDataFrame(
        [("# a comment",), ("",)], "value string"
    )
    got = sorted(
        tuple(r) for r in from_ntriples(lines.unionByName(extra)).collect()
    )
    assert got == sorted(rows)


def test_query_stream_materialized_view_non_monotone(spark, tmp_path):
    """The materialized SPARQL view recomputes per epoch (complete
    mode): a NON-monotone query's rows can disappear as facts arrive —
    here a !BOUND(?w) absent-fact view loses 'b' once a later batch
    delivers b's works_at edge — and the final view equals the batch
    answer over the full input. ASK is rejected."""
    import pytest as _pytest

    from nametag3_spark.operators.sparql import execute
    from nametag3_spark.streaming.stream import (
        read_query_view,
        start_query_stream,
    )

    q = """SELECT ?x WHERE {
             ?x is person .
             OPTIONAL { ?x works_at ?w }
             FILTER !BOUND(?w)
           }"""
    b1 = [("a", "is", "person"), ("b", "is", "person")]
    b2 = [("b", "works_at", "acme"), ("c", "is", "person")]
    in_dir = str(tmp_path / "in")
    schema = "subj string, pred string, obj string"
    # one file per batch → deterministic epoch split
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    store = str(tmp_path / "store")
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    kw = dict(max_files_per_trigger=1)
    sq = start_query_stream(spark, in_dir, store, view, ckpt, q, **kw)
    sq.awaitTermination(300)
    assert {r.x for r in read_query_view(spark, view).collect()} == {"a", "b"}
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    sq = start_query_stream(spark, in_dir, store, view, ckpt, q, **kw)
    sq.awaitTermination(300)
    got = {r.x for r in read_query_view(spark, view).collect()}
    # 'b' DISAPPEARED from the view — recompute semantics
    assert got == {"a", "c"}
    full = spark.createDataFrame(b1 + b2, schema)
    assert got == {r.x for r in execute(full, q).collect()}
    with _pytest.raises(ValueError, match="SELECT or CONSTRUCT"):
        start_query_stream(
            spark, in_dir, store, view, ckpt, "ASK { ?x is person }"
        )


def test_query_stream_replay_rewrites_view_epoch(spark, tmp_path):
    """Checkpoint loss replays every epoch: the store and the view are
    rebuilt bag-identical (each epoch overwrites its own partitions —
    the exactly-once contract extends to the view)."""
    import shutil

    from nametag3_spark.streaming.stream import (
        read_query_view,
        start_query_stream,
    )

    q = "SELECT ?x (COUNT(?y) AS ?n) WHERE { ?x knows ?y } GROUP BY ?x"
    rows = [("a", "knows", "b"), ("a", "knows", "c"), ("d", "knows", "a")]
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        rows, "subj string, pred string, obj string"
    ).repartition(2).write.parquet(in_dir)
    store = str(tmp_path / "store")
    view = str(tmp_path / "view")
    sq = start_query_stream(
        spark, in_dir, store, view, str(tmp_path / "ck1"), q,
        max_files_per_trigger=1,
    )
    sq.awaitTermination(300)
    first = sorted(
        (r.x, r.n) for r in read_query_view(spark, view).collect()
    )
    assert first == [("a", 2), ("d", 1)]
    # lose the checkpoint: full replay must rebuild identical outputs
    sq = start_query_stream(
        spark, in_dir, store, view, str(tmp_path / "ck2"), q,
        max_files_per_trigger=1,
    )
    sq.awaitTermination(300)
    again = sorted(
        (r.x, r.n) for r in read_query_view(spark, view).collect()
    )
    assert again == first
    store_rows = spark.read.parquet(store)
    assert store_rows.count() == store_rows.dropDuplicates(
        ["subj", "pred", "obj"]
    ).count()


def test_conversation_sessions_stream_matches_batch(spark, tmp_path):
    """The streaming session_window aggregation converges to exactly
    the batch session_window over the same turns (availableNow drain),
    and preserves the total turn count."""
    from nametag3_spark.streaming.stream import conversation_sessions

    transcripts = synth_transcripts(spark, n_convs=6, avg_turns=5)
    in_dir = str(tmp_path / "in_sess")
    transcripts.write.parquet(in_dir)
    stream = read_transcript_stream(spark, in_dir)
    q = (
        conversation_sessions(stream, gap="5 minutes")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("conv_sessions")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM conv_sessions").collect()
    )
    batch = sorted(
        tuple(r)
        for r in transcripts.groupBy(
            "conv_id", F.session_window("ts", "5 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            "conv_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_turns",
        )
        .collect()
    )
    assert got == batch and len(got) > 0
    assert sum(r[-1] for r in got) == transcripts.count()
