"""End-to-end pipeline: span P/R vs gold ≥ 0.95 (in practice 1.0),
linking/canonicalization correctness, snapshot resume."""

from __future__ import annotations

from pyspark.sql import functions as F

from nametag3_spark.data.synth import (
    gazetteer_df,
    synth_gold_mentions,
    synth_transcripts,
)
from nametag3_spark.operators.canonicalize import canonicalize_mentions
from nametag3_spark.operators.infer import annotate_turns
from nametag3_spark.operators.linking import link_mentions
from nametag3_spark.operators.triples import emit_triples, extract_mentions
from nametag3_spark.pipeline import PipelineRun

N_CONVS, AVG_TURNS = 30, 8


def _mentions(spark):
    transcripts = synth_transcripts(spark, n_convs=N_CONVS, avg_turns=AVG_TURNS)
    return extract_mentions(annotate_turns(transcripts, scorer="oracle"))


def test_span_precision_recall_vs_gold(spark):
    """Strict span multiset P/R, computed exactly as
    compare_nested_entities.py:45-53 (multiset intersection)."""
    sys_spans = (
        _mentions(spark)
        .groupBy("conv_id", "turn_idx", "start_tok", "end_tok", "label")
        .count()
        .withColumnRenamed("count", "n_sys")
    )
    gold_spans = (
        synth_gold_mentions(spark, n_convs=N_CONVS, avg_turns=AVG_TURNS)
        .groupBy("conv_id", "turn_idx", "start_tok", "end_tok", "label")
        .count()
        .withColumnRenamed("count", "n_gold")
    )
    joined = sys_spans.join(
        gold_spans, ["conv_id", "turn_idx", "start_tok", "end_tok", "label"], "full"
    ).agg(
        F.sum(F.least(F.coalesce("n_sys", F.lit(0)), F.coalesce("n_gold", F.lit(0)))).alias("correct"),
        F.sum(F.coalesce("n_sys", F.lit(0))).alias("retrieved"),
        F.sum(F.coalesce("n_gold", F.lit(0))).alias("gold"),
    )
    row = joined.collect()[0]
    precision = row["correct"] / row["retrieved"]
    recall = row["correct"] / row["gold"]
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"
    # the oracle scorer is deterministic: expect exact parity
    assert precision == 1.0 and recall == 1.0


def test_per_turn_text_equality_invariant(spark):
    """input_hint invariant: the labeled stage preserves every turn's text
    byte-for-byte under stable (conv_id, turn_idx) ordering."""
    transcripts = synth_transcripts(spark, n_convs=12, avg_turns=6)
    labeled = annotate_turns(transcripts)
    inp = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in transcripts.orderBy("conv_id", "turn_idx").collect()
    ]
    out = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in labeled.orderBy("conv_id", "turn_idx").collect()
    ]
    assert inp == out


def test_mention_surfaces_are_truecased(spark):
    surfaces = {r["surface"] for r in _mentions(spark).select("surface").distinct().collect()}
    assert not any(s.isupper() and len(s) > 2 for s in surfaces), surfaces


def test_linking_exact_and_canonical(spark):
    mentions = _mentions(spark)
    gaz = gazetteer_df(spark)
    linked = link_mentions(mentions, gaz, fuzzy=False)
    total = linked.count()
    exact = linked.where(F.col("entity_id").isNotNull()).count()
    assert exact / total > 0.9  # everything planted comes from the gazetteer

    canonical = canonicalize_mentions(linked)
    # aliases of the same entity must canonicalize together:
    # "John" and "John Smith" are both E001
    canon_ids = {
        r["mention_norm"]: r["entity_canonical"]
        for r in canonical.select("mention_norm", "entity_canonical").distinct().collect()
    }
    assert canon_ids.get("john") == canon_ids.get("john smith") == "e:E001"
    assert canon_ids.get("jan novák") == canon_ids.get("novák") == "e:E003"


def test_triples_shape(spark):
    mentions = _mentions(spark)
    linked = link_mentions(mentions, gazetteer_df(spark), fuzzy=False)
    canonical = canonicalize_mentions(linked)
    triples = emit_triples(canonical)
    preds = {r["pred"] for r in triples.select("pred").distinct().collect()}
    assert "type" in preds
    assert any(p.startswith("mentioned_by_") for p in preds)
    assert any(p.startswith("observed_via_") for p in preds)
    assert "co_mentioned_with" in preds
    assert triples.where(F.col("subj").isNull() | F.col("obj").isNull()).count() == 0


def test_pipeline_quarantines_invalid_turns(spark, tmp_path):
    """Invalid rows land in the 'rejected' snapshot; valid rows flow on."""
    import json
    import os

    good = synth_transcripts(spark, n_convs=5, avg_turns=4)
    bad = spark.createDataFrame(
        [(None, 0, "user", "no conv", None, None),
         ("c9", -1, "user", "bad idx", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    run = PipelineRun(spark, warehouse=str(tmp_path / "wh"))
    triples = run.run(good.unionByName(bad))
    assert triples.count() > 0
    rejected = spark.read.parquet(str(tmp_path / "wh" / "rejected" / "data"))
    assert rejected.count() == 2
    assert set(r["reject_reason"] for r in rejected.collect()) == {
        "null_conv_id", "bad_turn_idx",
    }
    # lineage manifest recorded for the quarantine snapshot too
    with open(os.path.join(tmp_path, "wh", "rejected", "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    assert manifest["row_count"] == 2


def test_pipeline_resume(spark, tmp_path):
    transcripts = synth_transcripts(spark, n_convs=10, avg_turns=5)
    run1 = PipelineRun(spark, warehouse=str(tmp_path / "wh"))
    t1 = run1.run(transcripts).orderBy("subj", "pred", "obj", "conv_id", "turn_idx")
    rows1 = [tuple(r) for r in t1.collect()]
    assert len(run1.stages_run) == 6 and not run1.stages_skipped

    # rerun: every stage must resume from its snapshot without recompute
    run2 = PipelineRun(spark, warehouse=str(tmp_path / "wh"))
    t2 = run2.run(transcripts).orderBy("subj", "pred", "obj", "conv_id", "turn_idx")
    rows2 = [tuple(r) for r in t2.collect()]
    assert len(run2.stages_skipped) == 6 and not run2.stages_run
    assert rows1 == rows2  # byte-identical output


def test_second_run_on_one_instance_reports_only_its_own_stages(spark, tmp_path):
    """``stages_run`` / ``stages_skipped`` describe the latest ``run()``:
    a second call on the same instance resumes all six stages and
    reports 0 run, 6 skipped (not the first call's six on top)."""
    transcripts = synth_transcripts(spark, n_convs=3, avg_turns=3)
    run = PipelineRun(spark, warehouse=str(tmp_path / "wh"))
    run.run(transcripts)
    assert len(run.stages_run) == 6 and not run.stages_skipped
    run.run(transcripts)
    assert not run.stages_run and len(run.stages_skipped) == 6


def test_resume_keys_on_code_version(spark, tmp_path, monkeypatch):
    """Snapshots written by other code re-run instead of being reused:
    the package-source digest is part of the input fingerprint."""
    from nametag3_spark import pipeline

    transcripts = synth_transcripts(spark, n_convs=3, avg_turns=3)
    wh = str(tmp_path / "wh")
    assert pipeline.code_digest() == pipeline.code_digest()
    PipelineRun(spark, warehouse=wh).run(transcripts)

    monkeypatch.setattr(pipeline, "code_digest", lambda: "other-code")
    changed = PipelineRun(spark, warehouse=wh)
    changed.run(transcripts)
    assert len(changed.stages_run) == 6 and not changed.stages_skipped

    same = PipelineRun(spark, warehouse=wh)
    same.run(transcripts)
    assert len(same.stages_skipped) == 6 and not same.stages_run


def test_callers_of_the_dataflow_agree(spark, tmp_path):
    """PipelineRun, kg_dataflow's default hook and the triples stream
    run one dataflow: over the same files the two batch callers emit
    identical rows and the stream the same (pred, conv_id, turn_idx)
    multiset. A fully-current resume runs no Spark job: each snapshot is
    read back with the schema its manifest records."""
    from collections import Counter

    from nametag3_spark.pipeline import kg_dataflow
    from nametag3_spark.streaming.stream import start_triples_stream

    in_dir = str(tmp_path / "in")
    synth_transcripts(spark, n_convs=8, avg_turns=5).repartition(4).write.parquet(in_dir)
    turns = spark.read.parquet(in_dir)
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]

    wh = str(tmp_path / "wh")
    run = PipelineRun(spark, warehouse=wh, fuzzy_linking=False)
    staged = sorted(map(tuple, run.run(turns).select(*cols).collect()))
    direct = sorted(
        map(tuple, kg_dataflow(turns, fuzzy=False)["triples"].select(*cols).collect())
    )
    assert staged == direct and len(direct) > 0

    out_dir = str(tmp_path / "out")
    start_triples_stream(
        spark, in_dir, out_dir, str(tmp_path / "ckpt"),
        catalog_dir=str(tmp_path / "catalog"),
    ).awaitTermination(300)
    streamed = Counter(
        tuple(r) for r in spark.read.parquet(out_dir)
        .select("pred", "conv_id", "turn_idx").collect()
    )
    assert streamed == Counter((p, c, t) for _s, p, _o, c, t in direct)

    sc = spark.sparkContext
    sc.setJobGroup("fully-current-resume", "resume")
    try:
        resumed = PipelineRun(spark, warehouse=wh, fuzzy_linking=False)
        resumed.run(turns)
        jobs = sc.statusTracker().getJobIdsForGroup("fully-current-resume")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(resumed.stages_skipped) == 6
    assert len(jobs) == 0, jobs


def test_only_pipeline_chains_the_dataflow():
    """Outside tests and perfbench, only pipeline.py calls link_mentions
    or emit_triples: every caller goes through kg_dataflow."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent
    files = [root / "bench.py", root / "__spark_entry__.py"]
    for sub in ("nametag3_spark", "jobs", "tools"):
        files += sorted((root / sub).rglob("*.py"))
    call = re.compile(r"(?<!def )\b(link_mentions|emit_triples)\(")
    callers = {
        f.relative_to(root).as_posix() for f in files if call.search(f.read_text())
    }
    assert callers == {"nametag3_spark/pipeline.py"}


def test_only_the_two_scoring_passes_call_label_batch():
    """Outside tests and perfbench, ``.label_batch(`` is called only by
    the per-turn Arrow kernel (operators/infer.py) and the fused serving
    pass (serving.py): a third scoring path fails this. Scorer
    ``def label_batch`` definitions are not calls."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent
    files = [root / "bench.py", root / "__spark_entry__.py"]
    for sub in ("nametag3_spark", "jobs", "tools"):
        files += sorted((root / sub).rglob("*.py"))
    call = re.compile(r"\.label_batch\(")
    callers = {
        f.relative_to(root).as_posix() for f in files if call.search(f.read_text())
    }
    assert callers == {"nametag3_spark/operators/infer.py", "nametag3_spark/serving.py"}


def test_bad_scorer_rejected_on_driver(spark, tmp_path):
    """An unknown scorer key raises ValueError while the DataFrame or the
    run is being built — before any Python worker starts, any model
    loads or any snapshot is written."""
    import pytest

    from nametag3_spark.operators.infer import extract_mentions_flat

    wh = tmp_path / "wh"
    with pytest.raises(ValueError, match="unknown scorer"):
        PipelineRun(spark, warehouse=str(wh), scorer="bogus")
    assert not wh.exists()

    t = synth_transcripts(spark, n_convs=2, avg_turns=3)
    for bad in ("bogus", "hf:", "np:", "oracle:x"):
        with pytest.raises(ValueError, match="unknown scorer"):
            annotate_turns(t, scorer=bad)
        with pytest.raises(ValueError, match="unknown scorer"):
            extract_mentions_flat(t, scorer=bad)


def test_failed_publish_keeps_previous_snapshot(spark, tmp_path, monkeypatch):
    """Failure injection between writing a snapshot and publishing it:
    the previous data and manifest stay readable, nothing is left aside."""
    import os

    import pytest

    from nametag3_spark.pipeline import SnapshotStore

    store = SnapshotStore(str(tmp_path / "wh"))
    store.write(spark.range(3), "stage", "fp-old")

    real_replace = os.replace

    def failing_replace(src, dst):
        if ".tmp-" in str(src):
            raise OSError("injected publish failure")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(OSError, match="injected"):
        store.write(spark.range(5), "stage", "fp-new")

    assert store.manifest("stage")["fingerprint"] == "fp-old"
    assert sorted(r.id for r in store.read(spark, "stage").collect()) == [0, 1, 2]
    assert os.listdir(tmp_path / "wh") == ["stage"]

    monkeypatch.setattr(os, "replace", real_replace)
    store.write(spark.range(5), "stage", "fp-new")
    assert store.manifest("stage")["fingerprint"] == "fp-new"
    assert store.read(spark, "stage").count() == 5
    assert os.listdir(tmp_path / "wh") == ["stage"]


def test_changed_input_at_same_path_reruns_stages(spark, tmp_path):
    """The input fingerprint follows the files, not the path: new data
    written over the same path re-runs every stage instead of resuming
    the old snapshots."""
    from nametag3_spark.pipeline import input_fingerprint

    src, wh = str(tmp_path / "turns"), str(tmp_path / "wh")
    synth_transcripts(spark, n_convs=2, avg_turns=3).write.parquet(src)
    first = spark.read.parquet(src)
    fp = input_fingerprint(first)
    assert input_fingerprint(spark.read.parquet(src)) == fp  # stable
    run1 = PipelineRun(spark, warehouse=wh, input_fingerprint=fp)
    n1 = run1.run(first).count()
    assert len(run1.stages_run) == 6

    synth_transcripts(spark, n_convs=4, avg_turns=3).write.mode("overwrite").parquet(src)
    second = spark.read.parquet(src)
    fp2 = input_fingerprint(second)
    assert fp2 != fp
    run2 = PipelineRun(spark, warehouse=wh, input_fingerprint=fp2)
    n2 = run2.run(second).count()
    assert len(run2.stages_run) == 6 and not run2.stages_skipped
    assert n2 > n1


def _window_path_mentions(labeled, windows):
    """Each scored span's surface read back through the unpacked windows
    (the ``pipeline_windows`` entry query's shape)."""
    from nametag3_spark.operators.encode import unpack_windows

    realigned = labeled.drop("tokens").join(
        unpack_windows(windows), ["conv_id", "turn_idx"]
    )
    return {
        tuple(r)
        for r in extract_mentions(realigned)
        .select("conv_id", "turn_idx", "start_tok", "end_tok", "label", "surface")
        .collect()
    }


def test_window_path_equals_turn_path(spark):
    """Packing turns into subword windows and unpacking them by their
    carried (turn_idx, token_idx) keys must give back every turn's tokens
    in order, so the mentions realigned through the windows equal the
    per-turn path's (reference packing nametag3_dataset.py:273-306,
    realignment nametag3_model.py:963-1042)."""
    from nametag3_spark.data.synth import synth_transcripts
    from nametag3_spark.operators.encode import pack_conversations
    from nametag3_spark.operators.infer import annotate_turns
    from nametag3_spark.operators.triples import extract_mentions

    t = synth_transcripts(spark, n_convs=12, avg_turns=8)
    labeled = annotate_turns(t)

    turn_path = {
        tuple(r)
        for r in extract_mentions(labeled)
        .select("conv_id", "turn_idx", "start_tok", "end_tok", "label", "surface")
        .collect()
    }
    # max_len=64 forces multi-window conversations (turn-boundary splits)
    windows = pack_conversations(labeled, max_len=64)
    assert windows.groupBy("conv_id").count().agg({"count": "max"}).collect()[0][0] > 1
    assert _window_path_mentions(labeled, windows) == turn_path
    assert len(turn_path) > 0


def test_window_path_merges_oversized_turn_continuations(spark):
    """A turn LONGER than the window budget splits into continuation
    windows; unpacking must merge those segments back into one turn so
    the window path equals the per-turn path even past the budget. The
    fixture plants 'Mary Jones' EXACTLY at the split: 12 one-subword
    fillers fill window 0 to 13 words ('Mary' is word 13), so 'Jones'
    lands in window 1 — a realignment that lost the continuation would
    cut the surface to 'Mary'."""
    from nametag3_spark.data.synth import TRANSCRIPT_SCHEMA
    from nametag3_spark.operators.encode import pack_conversations

    text = " ".join(["zzzz"] * 12 + ["Mary", "Jones"] + ["zzzz"] * 10)
    t = spark.createDataFrame(
        [("c1", 0, "user", text, None, None)], TRANSCRIPT_SCHEMA
    )
    labeled = annotate_turns(t)
    windows = pack_conversations(labeled, max_len=16)
    win_rows = windows.orderBy("window_idx").collect()
    assert len(win_rows) >= 2  # the single turn really did split
    assert win_rows[0]["words"][-1] == "Mary"  # ...and mid-entity

    cols = ["conv_id", "turn_idx", "start_tok", "end_tok", "label", "surface"]
    turn_path = {
        tuple(r) for r in extract_mentions(labeled).select(*cols).collect()
    }
    assert ("c1", 0, 12, 13, "PER", "Mary Jones") in turn_path
    assert _window_path_mentions(labeled, windows) == turn_path


def test_cc_long_chain_distributed_pointer_jumping(spark):
    """A 120-node chain has diameter far above max_iterations=25; plain
    min-propagation would need 120 rounds. Pointer jumping converges in
    ~log2 rounds — this passing through the DISTRIBUTED path (forced via
    driver_threshold=1) is the convergence proof."""
    from nametag3_spark.operators.canonicalize import connected_components

    edges = [("n%03d" % i, "n%03d" % (i + 1)) for i in range(120)]
    df = spark.createDataFrame(edges, "src string, dst string")
    comp = connected_components(df, driver_threshold=1, max_iterations=25)
    comps = {r["component"] for r in comp.collect()}
    assert comps == {"n000"}  # one component, min id wins
    assert comp.count() == 121


def test_cc_nonconvergence_raises(spark):
    """If the loop cannot converge within max_iterations, it must raise —
    never silently split a component."""
    import pytest

    from nametag3_spark.operators.canonicalize import connected_components

    edges = [("n%03d" % i, "n%03d" % (i + 1)) for i in range(40)]
    df = spark.createDataFrame(edges, "src string, dst string")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, driver_threshold=1, max_iterations=2)


def test_canonicalize_broadcast_guard_plans(spark):
    """Small (driver-path) edge sets broadcast the canonical map; when the
    edge count is unknown-large (distributed path), the plan must NOT
    broadcast it."""
    from nametag3_spark.operators.canonicalize import canonicalize_mentions

    mentions = _mentions(spark)
    linked = link_mentions(mentions, gazetteer_df(spark), fuzzy=False)

    import contextlib
    import io

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    small = canonicalize_mentions(linked)  # driver path → broadcast
    plan_small = plan_of(small)
    # guard path: force distributed CC (edge count unknown) → shuffle join
    big = canonicalize_mentions(linked, driver_threshold=1)
    plan_big = plan_of(big)

    def final_join_is_broadcast(plan):
        # the canonical-map join is the LAST join in the plan (top-most);
        # look for a BroadcastHashJoin whose build side feeds _surf_node
        return "BroadcastHashJoin" in plan

    assert final_join_is_broadcast(plan_small)
    # distributed path: the canon join must not be broadcast (other small
    # joins in the subtree may still broadcast — check the canon join by
    # asserting at least one SortMergeJoin/ShuffledHashJoin LeftOuter exists)
    assert ("SortMergeJoin LeftOuter" in plan_big) or ("ShuffledHashJoin LeftOuter" in plan_big)

    # and the guarded path still computes the same canonicalization
    a = {tuple(r) for r in small.select("mention_norm", "entity_canonical").distinct().collect()}
    b = {tuple(r) for r in big.select("mention_norm", "entity_canonical").distinct().collect()}
    assert a == b


def test_link_mentions_best_broadcast_guard_plans(spark):
    """The fuzzy best-candidate map (one row per distinct UNMATCHED
    surface — the unbounded set at 10^12 turns) must broadcast only when
    the approx-distinct count proves it under the bound; over the bound
    the join must fall back to shuffle. Mirrors the canonicalize guard."""
    import contextlib
    import io

    # perturb half the surfaces so they MISS the exact gazetteer join and
    # exercise the fuzzy path (synth mentions otherwise all match exactly,
    # making `unmatched` empty and the guard trivially satisfied)
    mentions = _mentions(spark).withColumn(
        "mention_norm",
        F.when(
            F.crc32(F.col("mention_norm")) % 2 == 0,
            F.concat(F.col("mention_norm"), F.lit("x")),
        ).otherwise(F.col("mention_norm")),
    )

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    small = link_mentions(mentions, gazetteer_df(spark), fuzzy=True)
    plan_small = plan_of(small)
    cols = ["conv_id", "turn_idx", "mention_norm", "entity_id", "link_method"]
    a = {tuple(r) for r in small.select(*cols).collect()}

    # under the bound the hint guarantees broadcast regardless of stats
    assert "SortMergeJoin LeftOuter" not in plan_small
    assert "ShuffledHashJoin LeftOuter" not in plan_small

    # over the bound the hint is dropped and Catalyst decides from stats;
    # at test scale its estimator still thinks `best` is tiny, so emulate
    # the 100 TB estimate by disabling the auto-broadcast threshold — the
    # un-hinted best join must then plan as a shuffle join while the
    # HINTED gazetteer broadcasts survive
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = link_mentions(
            mentions, gazetteer_df(spark), fuzzy=True, broadcast_surface_limit=0
        )
        plan_big = plan_of(big)
        assert ("SortMergeJoin LeftOuter" in plan_big) or (
            "ShuffledHashJoin LeftOuter" in plan_big
        )
        assert "BroadcastHashJoin" in plan_big  # hinted gaz joins intact
        b = {tuple(r) for r in big.select(*cols).collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
    assert a == b and len(a) > 0


def _plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


LSH_TIER_NODES = ("ObjectHashAggregate", "Window", "Generate")


def test_link_mentions_skips_the_fuzzy_tier_when_all_surfaces_match(spark):
    """The synth surfaces all match the gazetteer exactly, so the
    unmatched approx-distinct count reads 0: fuzzy linking plans no LSH
    tier (no shingle explode, signature aggregate or best-candidate
    window) and returns the ``fuzzy=False`` rows. The mentions are
    checkpointed so the plan holds only what linking adds."""
    mentions = _mentions(spark).localCheckpoint()
    gaz = gazetteer_df(spark)
    fuzzy = link_mentions(mentions, gaz, fuzzy=True)
    plan = _plan_of(fuzzy)
    assert not [node for node in LSH_TIER_NODES if node in plan], plan
    exact = link_mentions(mentions, gaz, fuzzy=False)
    assert fuzzy.columns == exact.columns
    assert sorted(fuzzy.collect()) == sorted(exact.collect())


def test_link_mentions_plans_the_fuzzy_tier_for_one_unmatched_surface(spark):
    """The skip keys on an approx-distinct count of exactly 0: one
    unmatched surface (n=1, the HyperLogLog++ boundary) must still plan
    the whole LSH tier and route only that surface through it."""
    mentions = _mentions(spark)
    one = mentions.agg(F.min("mention_norm")).first()[0]
    perturbed = mentions.withColumn(
        "mention_norm",
        F.when(
            F.col("mention_norm") == one, F.concat(F.col("mention_norm"), F.lit("x"))
        ).otherwise(F.col("mention_norm")),
    ).localCheckpoint()
    linked = link_mentions(perturbed, gazetteer_df(spark), fuzzy=True)
    plan = _plan_of(linked)
    assert all(node in plan for node in LSH_TIER_NODES), plan
    methods = {
        (r["mention_norm"] == one + "x", r["link_method"])
        for r in linked.select("mention_norm", "link_method").collect()
    }
    assert (False, "exact") in methods
    assert {m for hit, m in methods if hit} <= {"lsh", None}
    assert {m for hit, m in methods if not hit} == {"exact"}


def _reference_canonical(edges: list[tuple[str, str]]) -> dict[str, str]:
    """The rule canonicalization used before the component id stood in
    for it: per component, its minimum ``e:`` node, else the component."""
    from nametag3_spark.operators.canonicalize import _union_find

    component = _union_find(edges)
    min_entity: dict[str, str] = {}
    for node, comp in component.items():
        if node.startswith("e:"):
            min_entity[comp] = min(min_entity.get(comp, node), node)
    return {node: min_entity.get(comp, comp) for node, comp in component.items()}


def test_component_id_is_the_min_entity_node_on_random_graphs():
    """Node ids are ``e:<entity>`` / ``m:<surface>|<label>`` and every
    edge joins a surface to an entity, so ``"e:" < "m:"`` makes each
    component's minimum node its minimum entity node: the union-find
    component equals the reference rule on random bipartite graphs."""
    import random

    from nametag3_spark.operators.canonicalize import _union_find

    alphabet = "aeimz09ňá |"
    for seed in range(200):
        rng = random.Random(seed)

        def name() -> str:
            return "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 4)))

        surfaces = [f"m:{name()}|{rng.choice(['PER', 'ORG'])}" for _ in range(12)]
        entities = [f"e:{name()}" for _ in range(8)]
        edges = [
            (rng.choice(surfaces), rng.choice(entities))
            for _ in range(rng.randint(1, 20))
        ]
        assert _union_find(edges) == _reference_canonical(edges), edges


def test_canonical_ids_match_the_reference_rule_on_both_cc_paths(spark):
    """A two-entity surface ("jan" linked to E007 and E003) and an alias
    chain (a–E200–b–E150–c–E100–d) canonicalize to the reference rule's
    ids on the driver union-find and on the distributed loop; an
    unlinked surface keeps its own surface key."""
    rows = [
        ("c1", 0, "jan", "PER", "E007"),
        ("c1", 1, "jan", "PER", "E003"),
        ("c1", 2, "novák", "PER", "E003"),
        ("c2", 0, "a", "ORG", "E200"),
        ("c2", 1, "b", "ORG", "E200"),
        ("c2", 2, "b", "ORG", "E150"),
        ("c2", 3, "c", "ORG", "E150"),
        ("c2", 4, "c", "ORG", "E100"),
        ("c2", 5, "d", "ORG", "E100"),
        ("c3", 0, "nobody", "PER", None),
    ]
    linked = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, mention_norm string, label string, "
        "entity_id string",
    )
    reference = _reference_canonical(
        [(f"m:{m}|{lab}", f"e:{e}") for _c, _t, m, lab, e in rows if e is not None]
    )
    want = {
        (m, reference.get(f"m:{m}|{lab}", f"m:{m}|{lab}")) for _c, _t, m, lab, _e in rows
    }
    assert want == {
        ("jan", "e:E003"), ("novák", "e:E003"),
        ("a", "e:E100"), ("b", "e:E100"), ("c", "e:E100"), ("d", "e:E100"),
        ("nobody", "m:nobody|PER"),
    }
    for threshold in (1_000_000, 1):  # driver union-find, distributed loop
        got = canonicalize_mentions(linked, driver_threshold=threshold)
        assert {
            tuple(r) for r in got.select("mention_norm", "entity_canonical").collect()
        } == want, threshold


def test_iceberg_waiver_and_store_contract(spark, tmp_path):
    """Iceberg waiver (COVERAGE.md): the snapshot layer is the parquet
    SnapshotStore, which must honor the documented manifest contract
    (fingerprint, row_count, per-partition lineage rows summing to the
    total)."""
    from nametag3_spark.pipeline import SnapshotStore

    store = SnapshotStore(str(tmp_path / "wh"))
    df = spark.range(0, 100, 1, 4).withColumnRenamed("id", "x")
    manifest = store.write(df, "stage1", fingerprint="fp-abc")
    assert manifest["fingerprint"] == "fp-abc"
    assert manifest["row_count"] == 100
    assert sum(p["rows"] for p in manifest["partitions"]) == 100
    assert store.is_current("stage1", "fp-abc")
    assert not store.is_current("stage1", "fp-other")
    assert store.read(spark, "stage1").count() == 100


def test_manifest_lineage_counts_the_written_part_files(spark, tmp_path):
    """Lineage is read from what was written: ``row_count`` equals the
    summed per-task rows and the footer rows of the published part
    files; a ``partitionBy`` write sums each task's files. The read-back
    takes its schema from the manifest: it runs no Spark job, and its
    schema (nullability included) and rows equal an inferring
    ``spark.read.parquet`` of the data directory in both layouts."""
    import glob

    import pyarrow.parquet as pq

    from nametag3_spark.pipeline import SnapshotStore

    sc = spark.sparkContext
    store = SnapshotStore(str(tmp_path / "wh"))
    df = spark.range(0, 100, 1, 4).withColumn("k", F.col("id") % 3)
    for name, by in (("flat", None), ("parted", ["k"])):
        manifest = store.write(df, name, "fp", partition_by=by)
        files = glob.glob(
            str(tmp_path / "wh" / name / "data" / "**" / "part-*.parquet"),
            recursive=True,
        )
        footer_rows = sum(pq.read_metadata(f).num_rows for f in files)
        assert manifest["row_count"] == footer_rows == 100
        assert manifest["partitions"] == [
            {"partition_id": task, "rows": 25} for task in range(4)
        ]
        assert store.read(spark, name).count() == 100

        group = f"read-back-{name}"
        sc.setJobGroup(group, "one SnapshotStore.read")
        try:
            back = store.read(spark, name)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
        inferred = spark.read.parquet(str(tmp_path / "wh" / name / "data"))
        assert back.schema == inferred.schema
        assert sorted(back.collect()) == sorted(inferred.collect())


def test_shuffle_free_stage_write_runs_one_job(spark, tmp_path):
    """A snapshot write of a shuffle-free stage is one Spark job: the
    manifest needs no second pass over the data."""
    from nametag3_spark.pipeline import SnapshotStore

    sc = spark.sparkContext
    store = SnapshotStore(str(tmp_path / "wh"))
    df = spark.range(0, 1000, 1, 4).withColumn("y", F.col("id") * 2)
    sc.setJobGroup("snapshot-write-jobs", "one SnapshotStore.write")
    try:
        manifest = store.write(df, "stage", "fp")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert manifest["row_count"] == 1000
    assert len(sc.statusTracker().getJobIdsForGroup("snapshot-write-jobs")) == 1


def test_merge_latest_upsert_semantics(spark):
    """merge_latest: latest order wins per key; on an exact order tie the
    UPDATES side beats existing (MERGE INTO update semantics); keys
    absent from updates keep their existing row."""
    from nametag3_spark.operators.triples import merge_latest

    schema = "k string, ts int, v string"
    existing = spark.createDataFrame(
        [("a", 1, "old-a"), ("b", 5, "old-b"), ("c", 3, "old-c")], schema
    )
    updates = spark.createDataFrame(
        [("a", 2, "new-a"),   # newer → wins
         ("b", 5, "new-b")],  # exact tie → updates side wins
        schema,
    )
    got = {
        r["k"]: (r["ts"], r["v"])
        for r in merge_latest(existing, updates, ["k"], ["ts"]).collect()
    }
    assert got == {"a": (2, "new-a"), "b": (5, "new-b"), "c": (3, "old-c")}


def test_property_table_pivot_semantics(spark):
    """property_table: MAX-collapse per predicate + multiplicity count;
    missing predicate -> NULL cell / 0 count; predicates outside the
    explicit list are ignored entirely."""
    from nametag3_spark.operators.triples import property_table

    tri = spark.createDataFrame(
        [
            ("e1", "name", "alice"),
            ("e1", "knows", "bob"),
            ("e1", "knows", "carol"),     # multi-valued -> MAX + count 2
            ("e2", "name", "dave"),
            ("e2", "ignored.pred", "x"),  # not in the predicate list
        ],
        "subj string, pred string, obj string",
    )
    got = {
        r.subj: (r.name, r.n_name, r.knows, r.n_knows)
        for r in property_table(tri, ["name", "knows"]).collect()
    }
    assert got == {
        "e1": ("alice", 1, "carol", 2),
        "e2": ("dave", 1, None, 0),
    }


def test_property_table_sanitizes_dotted_predicates(spark):
    from nametag3_spark.operators.triples import property_table

    tri = spark.createDataFrame(
        [("e1", "foaf.name", "alice")], "subj string, pred string, obj string"
    )
    out = property_table(tri, ["foaf.name"])
    assert out.columns == ["subj", "foaf_name", "n_foaf_name"]
    assert out.collect()[0].foaf_name == "alice"
