"""Physical-plan regression guards: the optimizations we rely on at
100 TB must be visible in the plan — pushdown, pruning, broadcast.
These fail loudly if a refactor silently loses them."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark):
    import __spark_entry__ as E

    p = plan_of(E.q_scan_filter_project(spark, SF))
    assert "PushedFilters:" in p
    assert "IsNotNull(l_shipdate)" in p or "LessThan(l_shipdate" in p
    # column pruning: projection never reads the full 11-column lineitem
    assert "l_extendedprice" not in p.split("ReadSchema")[1]


def test_dim_joins_are_broadcast(spark):
    import __spark_entry__ as E

    p = plan_of(E.q_broadcast_dim_join(spark, SF))
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_gazetteer_link_is_broadcast_with_one_python_stage(spark):
    from nametag3_spark.data.synth import synth_transcripts
    from nametag3_spark.pipeline import kg_dataflow

    t = synth_transcripts(spark, n_convs=4, avg_turns=3)
    p = plan_of(kg_dataflow(t, fuzzy=False)["linked"])
    assert "BroadcastHashJoin" in p
    # exactly TWO Python nodes: the synth generator (MapInPandas) + the
    # fused scorer (MapInArrow) — a third would mean decode split back
    # into its own chained stage
    assert p.count(") MapInPandas") == 1
    assert p.count(") MapInArrow") == 1
    assert "ArrowEvalPython" not in p  # no extra pandas-UDF stage
    # the Python-node counts cannot see a PythonRDD source: a gazetteer
    # built by createDataFrame(list) scans as ExistingRDD and starts
    # Python tasks on every execution
    assert "ExistingRDD" not in p


def test_driver_side_tables_scan_as_local_relations(spark):
    """The gazetteer and the driver-CC map are Arrow LocalRelations
    (LocalTableScan), never an RDD of pickled rows (Scan ExistingRDD) that
    re-runs a Python pass on every plan scan."""
    from nametag3_spark.data.synth import synth_transcripts
    from nametag3_spark.pipeline import kg_dataflow

    frames = kg_dataflow(synth_transcripts(spark, n_convs=4, avg_turns=3))
    for df in (frames["linked"], frames["canonical"]):
        p = plan_of(df)
        assert "LocalTableScan" in p
        assert "ExistingRDD" not in p


def test_partial_aggregation_present(spark):
    import __spark_entry__ as E

    p = plan_of(E.q_tpch_q1(spark, SF))
    # map-side combine: two HashAggregate levels around the exchange
    tree = p.split("== Physical Plan ==")[1]
    agg_count = tree.count("HashAggregate")
    assert agg_count >= 2


def test_topk_prunes_columns(spark):
    import __spark_entry__ as E

    p = plan_of(E.q_topk_per_group(spark, SF))
    read = p.split("ReadSchema")[1].splitlines()[0]
    assert "o_orderdate" not in read and "o_orderpriority" not in read


def test_minhash_exchanges_carry_no_shingle_payload(spark):
    """The band self-join and pair-dedup must shuffle id/band columns
    only — the hashed-shingle arrays (_hs) re-join AFTER dedup. Guards
    the round-2 payload fix: every Exchange node's Output must be free
    of _hs/_sh. The embedding near-dup path shares the same blocked-pair
    join, so no Exchange there partitions on the embedding vectors."""
    from nametag3_spark.operators.dedup import minhash_lsh_pairs
    from nametag3_spark.operators.similarity import embedding_near_dup_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # formatted plan: node sections "(n) Exchange" followed by detail
    # lines incl. "Arguments: hashpartitioning(...)" / input schemas
    import re

    for plan, payload in (
        (plan_of(minhash_lsh_pairs(docs, jaccard_threshold=0.5)), ("_hs", "_sh")),
        (plan_of(embedding_near_dup_pairs(emb, threshold=0.3)), ("embedding",)),
    ):
        sections = re.split(r"\n\(\d+\) ", plan)
        exchanges = [s for s in sections if s.startswith("Exchange")]
        assert exchanges, "expected shuffle exchanges in the LSH plan"
        # NOTE: only the partitioning ARGUMENTS are asserted payload-free —
        # the post-dedup verification re-join legitimately shuffles the
        # payload once (by id), so a blanket "no exchange carries _hs" would
        # be wrong; the invariant is that nothing ever PARTITIONS on it.
        for ex in exchanges:
            first_line = ex.splitlines()[0]
            args = [l for l in ex.splitlines() if l.startswith("Arguments:")]
            for a in args:
                assert not any(p in a for p in payload), (first_line, a)


def test_fuzzy_linking_plan_has_no_interpreted_hofs(spark):
    """Fuzzy linking's shingle → signature → band path must be the
    explode + codegen'd aggregate form shared with dedup's MinHash — no
    interpreted higher-order function (lambda) anywhere in the plan."""
    from nametag3_spark.data.synth import gazetteer_df
    from nametag3_spark.operators.linking import link_mentions

    mentions = spark.createDataFrame(
        [("c0", 0, "acme corpx", "ORG"), ("c0", 1, "prague", "LOC")],
        "conv_id string, turn_idx int, mention_norm string, label string",
    )
    p = plan_of(link_mentions(mentions, gazetteer_df(spark), fuzzy=True))
    assert "lambdafunction" not in p
    assert "transform(" not in p


def test_keep_list_corpus_scan_prunes_text(spark):
    """dedup_keep_list joins the corpus by id only — the documents scan
    must read doc_id alone (column pruning), never the text payload."""
    from nametag3_spark.operators.dedup import dedup_keep_list

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    p = plan_of(dedup_keep_list(docs, pairs))
    reads = [l for l in p.splitlines() if "ReadSchema" in l]
    assert reads, "expected a parquet scan in the keep-list plan"
    assert all("text" not in l for l in reads)


def test_comention_path_has_no_sort_merge_join(spark):
    """emit_triples' co-mention pairs come from one groupBy + array
    expansion — the plan must not contain a SortMergeJoin (the pre-round-2
    self-join shape that cost ~3s regardless of core count)."""
    from nametag3_spark.data.synth import synth_transcripts
    from nametag3_spark.pipeline import kg_dataflow

    t = synth_transcripts(spark, n_convs=5, avg_turns=4)
    plan = plan_of(kg_dataflow(t, fuzzy=False)["triples"])
    assert "SortMergeJoin" not in plan
    assert "ObjectHashAggregate" in plan or "HashAggregate" in plan  # the groupBy


def test_serving_valid_path_has_no_shuffle(spark):
    """The serving surface's valid-request path is one fused Python pass
    and NOTHING may shuffle — request-level parallelism survives any
    cluster size only if the plan has no Exchange hashpartitioning."""
    from nametag3_spark.serving import ModelRegistry, process_requests

    reg = ModelRegistry()
    reg.register("nametag3-multilingual-250203", scorer="oracle")
    reqs = spark.createDataFrame(
        [("r1", "recognize", "Paris .", None, None, "xml")],
        "request_id string, endpoint string, data string, model string, "
        "input string, output string",
    )
    p = plan_of(process_requests(reqs, reg))
    assert "Exchange hashpartitioning" not in p
    assert "SortMergeJoin" not in p
    # one fused Python stage
    assert p.count(") MapInPandas") == 1


def test_serving_plans_one_pass_for_many_models(spark):
    """Requests for models under different scorer keys share the one
    fused pass: each request carries its alias's scorer key into it, so
    the plan has one Python stage and no per-model union."""
    from nametag3_spark.serving import ModelRegistry, process_requests

    reg = ModelRegistry()
    reg.register("gaz-model", scorer="oracle")
    reg.register("cap-model", scorer="hf:fake-ckpt")
    reqs = spark.createDataFrame(
        [
            ("g1", "recognize", "Paris .", "gaz-model", None, "xml"),
            ("h1", "recognize", "Paris .", "cap-model", None, "xml"),
        ],
        "request_id string, endpoint string, data string, model string, "
        "input string, output string",
    )
    p = plan_of(process_requests(reqs, reg))
    assert p.count(") MapInPandas") == 1


def test_serving_plan_is_one_pass_without_union_join_or_exchange(spark):
    """Valid and invalid requests alike go through the one request
    handler: the plan is the requests scan, one projection (the 413 guard)
    and one MapInPandas — no error leg unioned back, no alias join and no
    shuffle."""
    from nametag3_spark.serving import ModelRegistry, process_requests

    reg = ModelRegistry()
    reg.register("nametag3-multilingual-250203:nametag3-english", scorer="oracle")
    reqs = spark.createDataFrame(
        [
            ("r1", "recognize", "Paris .", "nametag3-english", None, "xml"),
            ("r2", "recognize", "Paris .", "no-such-model", None, None),
            ("r3", "tokenize", None, None, None, None),
        ],
        "request_id string, endpoint string, data string, model string, "
        "input string, output string",
    )
    p = plan_of(process_requests(reqs, reg))
    assert p.count(") MapInPandas") == 1
    for node in ("Union", "Join", "Exchange"):
        assert node not in p, node


def test_ivf_corpus_side_has_no_explode(spark):
    """IVF's corpus-side cell assignment adds ONE int per vector — the
    plan's only Generate (explode) must sit on the broadcast query side,
    never on the corpus scan (the LSH path pays xn_tables there; IVF's
    whole point is not to)."""
    from nametag3_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3)
    p = plan_of(ivf_topk(emb, q, k=3, n_centroids=4, nprobe=2))
    # queries explode once — exactly ONE Generate detail header ("(n)
    # Generate") in the whole formatted plan; the corpus side adds none
    assert sum(1 for l in p.splitlines() if l.strip().endswith("Generate")) == 1


def test_quality_filter_is_narrow_and_jvm_only(spark):
    """The Gopher/C4 rule filter must stay a narrow projection: no
    shuffle, no Python stage — one pass over the scan, which is what
    makes it free at 100 TB."""
    import __spark_entry__ as E

    p = plan_of(E.q_quality_filter(spark, SF))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_portable_media_synth_is_jvm_only(spark):
    """synth_media_portable generates content/metadata with pure column
    expressions — no Python stage in its plan (the PCG64 synth_media is
    the mapInPandas variant; the portable one must not regress into
    one)."""
    from nametag3_spark.operators.multimodal import synth_media_portable

    p = plan_of(synth_media_portable(spark, n=16))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "FlatMapsInPandas" not in p and "MapInPandas" not in p


def test_repeated_ngram_spans_no_cartesian_no_python(spark):
    import __spark_entry__ as E

    p = plan_of(E.q_repeated_ngram_spans(spark, SF))
    # gram candidates come from a keyed count + equi-join, never a
    # corpus cross/self-product; everything stays JVM-side
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p
    assert "BatchEvalPython" not in p  # no row-at-a-time Python
    # the island merge is the per-doc window, present exactly once
    assert p.count("Window") >= 1


def test_tfidf_plan_jvm_only_with_partial_agg(spark):
    import __spark_entry__ as E

    p = plan_of(E.q_tfidf_top_terms(spark, SF))
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    # both aggregations do map-side combine before their exchange
    assert p.count("HashAggregate") >= 4


def test_pagerank_iterations_reuse_cached_adjacency(spark):
    from nametag3_spark.operators.graph import pagerank, unpersist_intermediates

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
    )
    ranks = pagerank(edges, iters=3)
    p = plan_of(ranks)
    # sym + deg must come from the persisted handles (scan of an
    # in-memory relation), not be recomputed per iteration
    assert "InMemoryTableScan" in p
    ranks.collect()
    unpersist_intermediates()


def _nodes(p: str, name: str) -> int:
    """Count unique physical nodes (formatted explain lists each node
    twice: once in the tree, once in the details section)."""
    import re

    return len(re.findall(rf"^\(\d+\) {name}", p, flags=re.M))


def test_scd2_single_exchange(spark):
    import __spark_entry__ as E

    p = plan_of(E.q_triples_scd2(spark, SF))
    # lag flag, island running-sum, island groupBy and lead chaining all
    # ride ONE hash partitioning on the fact key — exactly one shuffle
    assert _nodes(p, "Exchange") == 1
    assert "MapInPandas" not in p and "BatchEvalPython" not in p


def test_property_table_one_shuffle_with_partial_agg(spark):
    import __spark_entry__ as E

    p = plan_of(E.q_triples_property_table(spark, SF))
    # explicit predicate list -> no inferred-pivot distinct job: the
    # whole pivot is ONE exchange with map-side partial aggregation
    # (SortAggregate: MAX over strings can't hash-agg) on either side
    assert _nodes(p, "Exchange") == 1
    assert _nodes(p, "SortAggregate") + _nodes(p, "HashAggregate") == 2
    assert _nodes(p, "Generate") == 1  # the stack() unpivot, fused inline


def test_negative_triples_vocab_broadcast_no_corpus_window(spark):
    import __spark_entry__ as E

    p = plan_of(E.q_kg_negative_samples(spark, SF))
    # the dense-id vocab joins broadcast; the only window is the vocab
    # indexer (|vocab|-bounded), never a window over the triple corpus
    assert "BroadcastHashJoin" in p
    assert _nodes(p, "Window") == 1
    assert "CartesianProduct" not in p
    assert "MapInPandas" not in p and "BatchEvalPython" not in p


def test_resolve_conflicts_trust_joins_broadcast(spark):
    from nametag3_spark.operators.temporal import resolve_conflicts

    claims = spark.createDataFrame(
        [(f"e{i%5}", "p", f"o{i%3}", f"s{i%4}") for i in range(40)],
        "subj string, pred string, obj string, source string",
    )
    out = resolve_conflicts(claims, iters=2)
    # the per-round trust dim is |sources|-bounded and must come back as
    # a broadcast join against the claims, never a shuffled merge join
    assert out.count() == 5


def test_bgp_chain_prunes_union_and_pushes_literals(spark):
    import __spark_entry__ as E

    p = plan_of(E.q_bgp_chain(spark, SF))
    # the triple view unions 3 tables, but each leg's literal predicate
    # constant-folds the other branches away: exactly 3 base-table scans
    assert _nodes(p, "Scan parquet") == 3
    # the ?nat named NATION_7 literal reaches the nation parquet scan
    assert "EqualTo(n_name,NATION_7)" in p
    # all legs join broadcast (dims are small); never a cartesian
    assert _nodes(p, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "MapInPandas" not in p and "BatchEvalPython" not in p


def test_bgp_star_no_cartesian_no_python(spark):
    import __spark_entry__ as E

    p = plan_of(E.q_bgp_star(spark, SF))
    # three patterns sharing ?o: pure equi-join plan, literal filters
    # below the joins, everything JVM-side
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "MapInPandas" not in p and "BatchEvalPython" not in p


def test_bgp_disconnected_never_reaches_catalyst(spark):
    from nametag3_spark.operators.bgp import bgp_query

    tri = spark.createDataFrame(
        [("a", "p", "b")], "subj string, pred string, obj string"
    )
    # the compiler refuses a cartesian BEFORE any plan is built
    with pytest.raises(ValueError, match="disconnected"):
        bgp_query(tri, [("?x", "p", "b"), ("?y", "q", "c")])


def test_khop_prunes_docs_and_stays_jvm(spark):
    import __spark_entry__ as E
    from nametag3_spark.operators.graph import (
        comention_edges,
        khop_neighbors,
        unpersist_intermediates,
    )

    docs = E._read(spark, SF, "documents")
    p = plan_of(
        khop_neighbors(
            comention_edges(docs, E._GRAPH_LEXICON), sources=["s"], k=2
        )
    )
    unpersist_intermediates()
    # documents scan pruned to the 2 columns edge-building needs
    assert "struct<doc_id:bigint,text:string>" in p
    # frontier expansion is equi-joins over id columns — no cartesian,
    # no Python stage anywhere in the BFS
    assert "CartesianProduct" not in p
    assert "MapInPandas" not in p and "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p


def test_construct_single_pass_with_anti_join(spark):
    import __spark_entry__ as E

    p = plan_of(E.q_bgp_construct(spark, SF))
    # the template expands via ONE Generate over the matches — never by
    # unioning per-template copies of the match sub-plan (that doubles
    # corpus scans per template triple)
    assert _nodes(p, "Generate") == 1
    assert _nodes(p, "Scan parquet") == 4
    # NOT EXISTS compiles to an anti-join; nothing cartesian or Python
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "MapInPandas" not in p and "BatchEvalPython" not in p


def test_sparql_aggregate_partial_agg_and_pushdown(spark):
    import __spark_entry__ as E

    p = plan_of(E.q_sparql_aggregate(spark, SF))
    # map-side partial + final aggregate around ONE exchange per
    # grouping (count-distinct adds its own expand/partial pair);
    # the point: no shuffle of raw matches without partial aggregation
    assert _nodes(p, "HashAggregate") + _nodes(p, "SortAggregate") >= 2
    # the union-of-tables triple view is branch-pruned: the orders
    # branch scans orders, never lineitem
    assert "lineitem" not in p
    # whole aggregation stays JVM-side — no Python workers in the plan
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_sparql_select_filter_pushdown_and_limit(spark):
    import __spark_entry__ as E

    p = plan_of(E.q_sparql_select(spark, SF))
    # TakeOrderedAndProject fuses ORDER BY+LIMIT — no global sort
    assert "TakeOrderedAndProject" in p
    # the STRSTARTS filter compiles to StartsWith pushed at the scan
    assert "StartsWith" in p or "startswith" in p.lower()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_filter_exists_compiles_to_semi_join(spark):
    from nametag3_spark.operators.bgp import bgp_query

    tri = spark.createDataFrame(
        [("a", "p", "b"), ("a", "q", "c")],
        "subj string, pred string, obj string",
    )
    df = bgp_query(
        tri, [("?x", "p", "?y")], exists=[[("?x", "q", "?w")]]
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan
    dfn = bgp_query(
        tri, [("?x", "p", "?y")], not_exists=[[("?x", "q", "?w")]]
    )
    plann = dfn._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plann


def test_per_block_graph_filters_push_into_scans(spark, tmp_path):
    """Each literal GRAPH block's graph filter reaches ITS parquet
    scan (EqualTo(graph, …)) — partition pruning on a
    graph-partitioned store, not a post-join filter."""
    from nametag3_spark.operators.sparql import execute

    path = str(tmp_path / "quads")
    spark.createDataFrame(
        [("s1", "e1", "p", "b"), ("s2", "e1", "p", "c"),
         ("s3", "c", "q", "d")],
        "graph string, subj string, pred string, obj string",
    ).write.parquet(path)
    q = spark.read.parquet(path)
    df = execute(
        q, "SELECT ?x ?y WHERE { GRAPH s2 { e1 p ?x } GRAPH s3 { ?x q ?y } }"
    )
    p = plan_of(df)
    assert "EqualTo(graph,s2)" in p
    assert "EqualTo(graph,s3)" in p
    # and the scoped scans still push the literal subject/predicate
    assert "EqualTo(subj,e1)" in p


def test_expression_filters_keep_their_plans(spark, tmp_path):
    """Through the one expression compiler, ``?x IN (…)`` is still one
    In predicate pushed into the parquet scan, and ``!BOUND(?w)`` after
    an OPTIONAL still plans an ``isnull`` filter over the left join."""
    from nametag3_spark.operators.sparql import execute

    path = str(tmp_path / "triples")
    spark.createDataFrame(
        [("s1", "p", "a"), ("s2", "p", "c"), ("a", "q", "w1")],
        "subj string, pred string, obj string",
    ).write.parquet(path)
    tri = spark.read.parquet(path)
    p = plan_of(
        execute(tri, "SELECT ?s WHERE { ?s p ?x . FILTER (?x IN ('a', 'b')) }")
    )
    assert "In(obj, [a,b])" in p
    p = plan_of(
        execute(
            tri,
            "SELECT ?s WHERE { ?s p ?x . OPTIONAL { ?x q ?w } "
            "FILTER (!BOUND(?w)) }",
        )
    )
    assert "isnull(w" in p and "NOT isnotnull" not in p


def test_bm25_plan_shape(spark):
    """BM25: query-term In-list filtered BEFORE any shuffle, the df
    table broadcast onto tf, global top-k as TakeOrderedAndProject —
    never a full sort, never a sort-merge join."""
    import __spark_entry__ as E

    p = plan_of(E.q_bm25_search(spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    # the In-list lands in a Filter below the first aggregate
    assert " IN (query,spark,stream)" in p


def test_session_gaps_single_exchange(spark):
    """Sessionization: ONE hash partitioning on the user key serves
    the lag window, the running-sum window, and the per-session
    aggregation — exactly one Exchange in the whole plan."""
    import __spark_entry__ as E

    p = plan_of(E.q_session_gaps(spark, SF))
    tree = p.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1, tree


def test_pmi_and_cluster_eval_no_scale_killers(spark):
    """PMI joins its small count tables broadcast; cluster-eval's only
    non-equi joins are the three 1-row metric frames."""
    import __spark_entry__ as E

    p = plan_of(E.q_pmi_comention(spark, SF))
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    p = plan_of(E.q_cluster_eval(spark, SF))
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
