"""SPARQL text front end (operators/sparql.py): parser unit tests
(pure Python, fast) and execute() equivalence with the programmatic
API on the shared tiny graph."""

from __future__ import annotations

import pytest

from nametag3_spark.operators.sparql import SparqlSyntaxError, parse

TRIPLES = [
    ("alice", "knows", "bob"),
    ("alice", "knows", "carol"),
    ("bob", "knows", "carol"),
    ("carol", "works_at", "acme"),
    ("bob", "works_at", "acme"),
    ("alice", "works_at", "globex"),
    ("dave", "knows", "erin"),
]


def _tri(spark):
    return spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")


# ---- parser (no Spark) ------------------------------------------------


def test_parse_select_forms():
    s = parse("SELECT ?x ?w WHERE { ?x works_at ?w . ?x knows carol }")
    assert s["form"] == "select" and s["select"] == ["x", "w"]
    assert s["patterns"] == [("?x", "works_at", "?w"), ("?x", "knows", "carol")]
    assert not s["distinct"]
    s = parse("SELECT DISTINCT * WHERE { ?x knows ?y }")
    assert s["select"] is None and s["distinct"]


def test_parse_blocks_and_values():
    s = parse(
        """SELECT ?x WHERE {
             ?x knows ?y .
             OPTIONAL { ?y works_at ?w }
             FILTER NOT EXISTS { ?x works_at globex }
             VALUES ?y { bob carol 'two words' }
           }"""
    )
    assert s["optional"] == [[("?y", "works_at", "?w")]]
    assert s["not_exists"] == [[("?x", "works_at", "globex")]]
    assert s["values"] == {"y": ["bob", "carol", "two words"]}


def test_parse_graph_and_construct_and_ask():
    s = parse("SELECT * WHERE { GRAPH ?g { ?s ?p ?o } }")
    assert s["patterns"] == []
    [(term, blk)] = s["graph_blocks"]
    assert term == "?g" and blk["patterns"] == [("?s", "?p", "?o")]
    s = parse("CONSTRUCT { ?a coworker ?b } WHERE { ?a works_at ?w . ?b works_at ?w }")
    assert s["form"] == "construct" and s["template"] == [("?a", "coworker", "?b")]
    s = parse("ASK { alice knows+ ?x }")
    assert s["form"] == "ask" and s["patterns"] == [("alice", "knows+", "?x")]


def test_parse_quoted_keywords_are_literals():
    # a quoted 'OPTIONAL' is a term, not a keyword
    s = parse("SELECT * WHERE { ?x 'OPTIONAL' ?y }")
    assert s["patterns"] == [("?x", "OPTIONAL", "?y")]


def test_parse_errors():
    for bad, msg in [
        ("FOO { }", "must start with"),
        ("SELECT WHERE { ?x p ?y }", "SELECT needs"),
        ("SELECT ?x WHERE { ?x p }", "3 terms"),
        ("SELECT ?x WHERE { ?x p ?y", "unterminated group|end of query"),
        ("SELECT ?x WHERE { ?x p ?y } trailing", "trailing"),
        ("SELECT * WHERE { GRAPH g { } }", "empty GRAPH block"),
        ("SELECT * WHERE { VALUES x { a } }", "needs a \\?var"),
        ("ASK { 'unterminated", "unterminated string"),
    ]:
        with pytest.raises(SparqlSyntaxError, match=msg):
            parse(bad)


# ---- execute() vs programmatic API ------------------------------------


def test_execute_select_matches_programmatic(spark):
    from nametag3_spark.operators.bgp import bgp_query
    from nametag3_spark.operators.sparql import execute

    q = """SELECT ?x ?w WHERE {
             alice knows ?x .
             OPTIONAL { ?x works_at ?w }
           }"""
    got = {tuple(r) for r in execute(_tri(spark), q).collect()}
    want = {
        tuple(r)
        for r in bgp_query(
            _tri(spark),
            [("alice", "knows", "?x")],
            select=["x", "w"],
            optional=[[("?x", "works_at", "?w")]],
        ).collect()
    }
    assert got == want and got == {("bob", "acme"), ("carol", "acme")}


def test_execute_ask_construct_and_path(spark):
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    assert execute(tri, "ASK { alice knows+ ?x . ?x works_at acme }") is True
    assert execute(tri, "ASK { erin knows ?x }") is False
    out = execute(
        tri,
        "CONSTRUCT { ?a affiliated ?w } WHERE "
        "{ ?a knows ?b . ?b works_at ?w }",
    )
    got = {tuple(r) for r in out.collect()}
    assert got == {
        ("alice", "affiliated", "acme"),
        ("bob", "affiliated", "acme"),
    }


def test_execute_graph_scope(spark):
    from nametag3_spark.operators.sparql import execute

    quads = spark.createDataFrame(
        [
            ("g1", "a", "p", "b"),
            ("g2", "a", "p", "c"),
        ],
        "graph string, subj string, pred string, obj string",
    )
    got = {
        tuple(r)
        for r in execute(quads, "SELECT ?o WHERE { GRAPH g2 { a p ?o } }").collect()
    }
    assert got == {("c",)}
    rows = execute(quads, "SELECT ?g ?o WHERE { GRAPH ?g { a p ?o } }").collect()
    assert {(r.g, r.o) for r in rows} == {("g1", "b"), ("g2", "c")}


# ---- round-4 extensions: FILTER exprs, MINUS, UNION, modifiers --------


def test_parse_filter_expressions_and_minus():
    s = parse(
        """SELECT ?x WHERE {
             ?x age ?a .
             FILTER (?a >= 7.5)
             FILTER (?x != ?y)
             FILTER CONTAINS(?n, 'li ce')
             FILTER (STRSTARTS(?n, "Al"))
             MINUS { ?x knows bob }
           }"""
    )
    assert s["filters"] == [
        (">=", "?a", 7.5),
        ("!=", "?x", "?y"),
        ("contains", "?n", "li ce"),
        ("strstarts", "?n", "Al"),
    ]
    assert s["minus"] == [[("?x", "knows", "bob")]]
    # quoted numerics stay strings; unquoted ints stay ints
    s2 = parse("SELECT ?x WHERE { ?x age ?a . FILTER (?a = '7') }")
    assert s2["filters"] == [("=", "?a", "7")]
    s3 = parse("SELECT ?x WHERE { ?x age ?a . FILTER (?a < -3) }")
    assert s3["filters"] == [("<", "?a", -3)]


def test_parse_union_and_modifiers():
    s = parse(
        """SELECT ?x ?y WHERE { { ?x knows ?y } UNION { ?x likes ?y } }
           ORDER BY ?x DESC(?y) LIMIT 5 OFFSET 2"""
    )
    assert s["union"] == [[("?x", "knows", "?y")], [("?x", "likes", "?y")]]
    assert s["order"] == [("x", True), ("y", False)]
    assert s["limit"] == 5 and s["offset"] == 2
    # LIMIT/OFFSET in either order
    s2 = parse("SELECT ?x WHERE { ?x knows ?y } OFFSET 1 LIMIT 2")
    assert s2["limit"] == 2 and s2["offset"] == 1


def test_parse_extension_errors():
    for bad in [
        # lone braced group, no UNION
        "SELECT ?x WHERE { { ?x knows ?y } }",
        # FILTER without parens or function
        "SELECT ?x WHERE { ?x knows ?y . FILTER ?x = bob }",
        # unsupported operator
        "SELECT ?x WHERE { ?x age ?a . FILTER (?a ~ 3) }",
        # ORDER BY with nothing
        "SELECT ?x WHERE { ?x knows ?y } ORDER BY LIMIT 2",
        # non-integer LIMIT
        "SELECT ?x WHERE { ?x knows ?y } LIMIT bob",
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse(bad)


def test_execute_extensions_match_programmatic(spark):
    """FILTER/MINUS/UNION/ORDER/LIMIT via text == the programmatic
    engine calls, on the shared tiny graph."""
    from pyspark.sql import functions as F

    from nametag3_spark.operators.bgp import bgp_query, bgp_union
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    got = execute(
        tri,
        "SELECT ?x ?w WHERE { ?x works_at ?w . FILTER (?w != globex) "
        "MINUS { ?x knows carol } }",
    )
    want = bgp_query(
        tri,
        [("?x", "works_at", "?w")],
        select=["x", "w"],
        filters=[("!=", "?w", "globex")],
        minus=[[("?x", "knows", "carol")]],
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    gotu = execute(
        tri,
        "SELECT ?a ?b WHERE { { ?a knows ?b } UNION { ?a works_at ?b } } "
        "ORDER BY ?a DESC(?b) LIMIT 3",
    )
    wantu = (
        bgp_union(
            tri,
            [[("?a", "knows", "?b")], [("?a", "works_at", "?b")]],
            select=["a", "b"],
        )
        .orderBy("a", F.col("b").desc())
        .limit(3)
    )
    assert list(map(tuple, gotu.collect())) == list(
        map(tuple, wantu.collect())
    )
    # sequence + alternation paths ride through the predicate slot
    seq = execute(tri, "SELECT ?x ?y WHERE { ?x knows/works_at ?y }")
    assert sorted(map(tuple, seq.collect()))[0] == ("alice", "acme")
    alt = execute(tri, "ASK { dave knows|works_at ?y }")
    assert alt is True


def test_parse_and_execute_aggregates(spark):
    from nametag3_spark.operators.sparql import execute

    s = parse(
        "SELECT ?w (COUNT(DISTINCT ?x) AS ?n) WHERE { ?x works_at ?w } "
        "GROUP BY ?w ORDER BY DESC(?n) ?w"
    )
    assert s["aggs"] == [("count_distinct", "?x", "n")]
    assert s["group_by"] == ["w"] and s["select"] == ["w"]
    for bad in [
        # selected var not a group key
        "SELECT ?x (COUNT(*) AS ?n) WHERE { ?x knows ?y } GROUP BY ?y",
        # GROUP BY without aggregates
        "SELECT ?x WHERE { ?x knows ?y } GROUP BY ?x",
        # SUM(*)
        "SELECT (SUM(*) AS ?s) WHERE { ?x knows ?y }",
        # missing AS
        "SELECT (COUNT(?x) ?n) WHERE { ?x knows ?y }",
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse(bad)

    tri = _tri(spark)
    df = execute(
        tri,
        "SELECT ?w (COUNT(?x) AS ?n) WHERE { ?x works_at ?w } "
        "GROUP BY ?w ORDER BY ?w",
    )
    assert df.columns == ["w", "n"]
    assert [tuple(r) for r in df.collect()] == [("acme", 2), ("globex", 1)]


def test_distinct_with_aggregates(spark):
    """SELECT DISTINCT composes with aggregates: Distinct applies AFTER
    aggregation+projection (SPARQL 18.2.5.2), so grouping finer than
    the projection (GROUP BY keys the SELECT omits) deduplicates."""
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    # groups: (acme,carol)=1, (globex,bob)=1, (globex,carol)=1 —
    # projecting only ?w ?n repeats (globex,1); DISTINCT collapses it
    q = (
        "SELECT {d}?w (COUNT(*) AS ?n) WHERE "
        "{{ ?x works_at ?w . ?x knows ?y }} GROUP BY ?w ?y ORDER BY ?w"
    )
    plain = [tuple(r) for r in execute(tri, q.format(d="")).collect()]
    assert plain == [("acme", 1), ("globex", 1), ("globex", 1)]
    ded = [tuple(r) for r in execute(tri, q.format(d="DISTINCT ")).collect()]
    assert ded == [("acme", 1), ("globex", 1)]
    # no GROUP BY: one global row, DISTINCT is a valid no-op
    one = execute(
        tri, "SELECT DISTINCT (COUNT(*) AS ?n) WHERE { ?x knows ?y }"
    )
    assert [tuple(r) for r in one.collect()] == [(4,)]


def test_having_filters_aggregates(spark):
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    df = execute(
        tri,
        "SELECT ?w (COUNT(?x) AS ?n) WHERE { ?x works_at ?w } "
        "GROUP BY ?w HAVING (?n >= 2)",
    )
    assert [tuple(r) for r in df.collect()] == [("acme", 2)]
    # HAVING may also reference a group key
    df2 = execute(
        tri,
        "SELECT ?w (COUNT(?x) AS ?n) WHERE { ?x works_at ?w } "
        "GROUP BY ?w HAVING (STRSTARTS(?w, 'glo'))",
    )
    assert [tuple(r) for r in df2.collect()] == [("globex", 1)]
    with pytest.raises(SparqlSyntaxError, match="HAVING needs aggregates"):
        parse("SELECT ?x WHERE { ?x knows ?y } HAVING (?x = bob)")


def test_bind_text_syntax(spark):
    from nametag3_spark.operators.sparql import execute

    s = parse(
        "SELECT ?v WHERE { ?x age ?a . BIND ((?a * 2) + 1 AS ?v) }"
    )
    assert s["binds"] == [(("+", ("*", "?a", 2), 1), "v")]
    tri = spark.createDataFrame(
        [("a", "age", "30")], "subj string, pred string, obj string"
    )
    got = execute(
        tri,
        "SELECT ?x ?u WHERE { ?x age ?a . "
        "BIND (UCASE(CONCAT(?x, '-', ?a)) AS ?u) }",
    ).collect()
    assert [tuple(r) for r in got] == [("a", "A-30")]
    with pytest.raises(SparqlSyntaxError, match="alias"):
        parse("SELECT ?x WHERE { ?x age ?a . BIND (?a + 1 AS v) }")


def test_subquery_join_and_aggregated_subquery(spark):
    """{ SELECT ... } compiles to its own DataFrame and joins the
    outer chain on its projected vars — incl. GROUP BY/HAVING and
    ORDER/LIMIT inside the subquery."""
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    # employers with >= 2 workers, then who works there
    got = execute(
        tri,
        """SELECT ?x ?w WHERE {
             ?x works_at ?w .
             { SELECT ?w (COUNT(?p) AS ?n) WHERE { ?p works_at ?w }
               GROUP BY ?w HAVING (?n >= 2) }
           } ORDER BY ?x""",
    ).collect()
    assert [tuple(r) for r in got] == [("bob", "acme"), ("carol", "acme")]
    # subquery vars must connect to the outer pattern
    with pytest.raises(ValueError, match="disconnected"):
        execute(
            tri,
            "SELECT ?x WHERE { ?x knows bob . "
            "{ SELECT ?q WHERE { ?q works_at acme } } }",
        )
    # UNION mixes with a subquery (both compile to extra legs)
    s = parse(
        "SELECT ?x WHERE { { SELECT ?x WHERE { ?x knows ?y } } "
        "{ ?x knows ?y } UNION { ?x works_at ?y } }"
    )
    assert len(s["subqueries"]) == 1 and len(s["union"]) == 2


def test_parse_parenthesized_path_groups():
    s = parse("SELECT ?x WHERE { alice (knows|likes)+ ?x }")
    assert s["patterns"] == [("alice", "(knows|likes)+", "?x")]
    s = parse("ASK { ?a (broader|narrower) ?b }")
    assert s["patterns"] == [("?a", "(broader|narrower)", "?b")]
    s = parse("SELECT ?x WHERE { alice (knows|likes)* ?x . ?x works_at acme }")
    assert s["patterns"][0] == ("alice", "(knows|likes)*", "?x")
    # still punctuation errors elsewhere
    with pytest.raises(SparqlSyntaxError):
        parse("SELECT ?x WHERE { (alice) knows ?x }")
    with pytest.raises(SparqlSyntaxError):
        parse("SELECT ?x WHERE { alice ( ) ?x }")


def test_execute_parenthesized_closure_over_alternation(spark):
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    got = execute(tri, "SELECT ?x WHERE { alice (knows|works_at)+ ?x }")
    assert sorted(r.x for r in got.collect()) == [
        "acme", "bob", "carol", "globex"]


def test_union_composes_with_other_patterns(spark):
    """{A} UNION {B} alongside plain triples and OPTIONAL: the chain
    compiles to one binding-set leg joined on the shared variables."""
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    # anyone alice knows OR who works at acme, who also knows someone
    got = execute(
        tri,
        """SELECT ?p ?q WHERE {
             ?p knows ?q .
             { alice knows ?p } UNION { ?p works_at acme }
           } ORDER BY ?p ?q""",
    ).collect()
    assert [tuple(r) for r in got] == [("bob", "carol"), ("bob", "carol")]
    # bag semantics: bob qualifies via BOTH branches → two rows
    # OPTIONAL alongside a UNION
    got = execute(
        tri,
        """SELECT ?p ?w WHERE {
             { alice knows ?p } UNION { dave knows ?p }
             OPTIONAL { ?p works_at ?w }
           } ORDER BY ?p""",
    ).collect()
    assert [tuple(r) for r in got] == [
        ("bob", "acme"), ("carol", "acme"), ("erin", None)]


def test_union_select_star_and_ask_and_construct(spark):
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    # SELECT * over a standalone union: projects the shared variables
    got = execute(
        tri,
        "SELECT * WHERE { { ?x works_at globex } UNION { dave knows ?x } }",
    ).collect()
    assert sorted(r.x for r in got) == ["alice", "erin"]
    assert execute(tri, "ASK { { ?x knows erin } UNION { ?x knows zed } }")
    derived = execute(
        tri,
        "CONSTRUCT { ?x reached ?x } WHERE "
        "{ { alice knows ?x } UNION { ?x works_at acme } }",
    ).collect()
    assert sorted(r.subj for r in derived) == ["bob", "carol"]


def test_aggregate_over_union(spark):
    """COUNT over a composed UNION chain — previously a hard parser
    error, now the union leg feeds bgp_aggregate like any pattern."""
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    got = execute(
        tri,
        """SELECT ?w (COUNT(?p) AS ?n) WHERE {
             ?p works_at ?w .
             { alice knows ?p } UNION { bob knows ?p }
           } GROUP BY ?w ORDER BY ?w""",
    ).collect()
    # bob (known by alice) and carol (known by alice AND bob → 2 rows)
    # all work at acme: COUNT = 3 under bag semantics
    assert [tuple(r) for r in got] == [("acme", 3)]
    # whole-result aggregate over a standalone union
    got = execute(
        tri,
        "SELECT (COUNT(?x) AS ?n) WHERE "
        "{ { ?x knows ?y } UNION { ?x works_at ?y } }",
    ).collect()
    assert got[0].n == 7


def test_union_branches_need_a_shared_variable(spark):
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    # every union variable is branch-private, and both are bound by
    # the required pattern too
    with pytest.raises(SparqlSyntaxError, match="branch-private"):
        execute(
            tri,
            "SELECT ?p WHERE { ?p knows ?q . "
            "{ alice knows ?p } UNION { bob knows ?q } }",
        )


def test_extra_legs_programmatic(spark):
    """extra_legs: ANY DataFrame whose columns are variable names
    joins the chain like a pattern leg."""
    from nametag3_spark.operators.bgp import bgp_query

    tri = _tri(spark)
    allow = spark.createDataFrame([("bob",), ("dave",)], "x string")
    got = bgp_query(
        tri, [("?x", "knows", "?y")], extra_legs=[allow], select=["x", "y"]
    ).collect()
    assert sorted(tuple(r) for r in got) == [("bob", "carol"), ("dave", "erin")]


def test_filter_exists_and_describe_text(spark):
    """FILTER EXISTS is a semi-join (bag cardinality preserved — one
    output row per required match no matter how many witnesses);
    DESCRIBE via the text front end returns the entity card."""
    from nametag3_spark.operators.sparql import execute

    tri = spark.createDataFrame(
        [
            ("a", "type", "p"),
            ("b", "type", "p"),
            ("a", "knows", "x"),
            ("a", "knows", "y"),
            ("z", "likes", "a"),
        ],
        "subj string, pred string, obj string",
    )
    got = execute(
        tri, "SELECT ?e WHERE { ?e type p . FILTER EXISTS { ?e knows ?y } }"
    ).collect()
    # 'a' has TWO witnesses but appears once; 'b' has none
    assert [tuple(r) for r in got] == [("a",)]
    card = sorted(tuple(r) for r in execute(tri, "DESCRIBE a").collect())
    assert card == [
        ("a", "knows", "x"),
        ("a", "knows", "y"),
        ("a", "type", "p"),
        ("z", "likes", "a"),
    ]


def test_ask_and_construct_accept_subqueries(spark):
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    assert (
        execute(
            tri,
            "ASK { ?x works_at ?w . { SELECT ?w (COUNT(?p) AS ?n) WHERE "
            "{ ?p works_at ?w } GROUP BY ?w HAVING (?n >= 2) } }",
        )
        is True
    )
    out = execute(
        tri,
        "CONSTRUCT { ?x at_popular ?w } WHERE { ?x works_at ?w . "
        "{ SELECT ?w (COUNT(?p) AS ?n) WHERE { ?p works_at ?w } "
        "GROUP BY ?w HAVING (?n >= 2) } }",
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        ("bob", "at_popular", "acme"),
        ("carol", "at_popular", "acme"),
    ]


def test_prefix_expansion_and_iri_tokens(spark):
    """PREFIX ns: <iri> expands registered names everywhere — incl.
    inside path operators (alternation/sequence/closure) — while
    unregistered colons (entity ids) pass through; <IRI> angle tokens
    are plain terms; engine-side <...> quoting keeps IRI slashes and
    pipes atomic."""
    from nametag3_spark.operators.sparql import execute

    tri = spark.createDataFrame(
        [
            ("http://kg/e1", "http://kg/knows", "http://kg/e2"),
            ("http://kg/e2", "http://kg/likes", "http://kg/e3"),
            ("e:E1", "mentions", "x"),
        ],
        "subj string, pred string, obj string",
    )
    got = execute(
        tri,
        "PREFIX kg: <http://kg/> "
        "SELECT ?x ?y WHERE { ?x kg:knows|kg:likes ?y } ORDER BY ?x",
    ).collect()
    assert [tuple(r) for r in got] == [
        ("http://kg/e1", "http://kg/e2"),
        ("http://kg/e2", "http://kg/e3"),
    ]
    seq = execute(
        tri,
        "PREFIX kg: <http://kg/> SELECT ?y WHERE { kg:e1 kg:knows/kg:likes ?y }",
    ).collect()
    assert [tuple(r) for r in seq] == [("http://kg/e3",)]
    # bare-IRI predicates never get split on their slashes
    bare = execute(
        tri, "SELECT ?y WHERE { <http://kg/e1> <http://kg/knows> ?y }"
    ).collect()
    assert [tuple(r) for r in bare] == [("http://kg/e2",)]
    # unregistered colon-bearing ids are untouched
    ent = execute(
        tri, "PREFIX kg: <http://kg/> SELECT ?o WHERE { e:E1 mentions ?o }"
    ).collect()
    assert [tuple(r) for r in ent] == [("x",)]
    with pytest.raises(SparqlSyntaxError, match="PREFIX needs"):
        parse("PREFIX kg <http://kg/> SELECT ?x WHERE { ?x p ?y }")


def test_multi_variable_values_rows(spark):
    """VALUES (?a ?b) { (x y) ... } is a row-correlated binding TABLE
    (joined as a leg) — unlike per-variable lists, which admit the
    cross product."""
    from nametag3_spark.operators.sparql import execute

    tri = spark.createDataFrame(
        [("a", "knows", "b"), ("a", "knows", "c"), ("c", "knows", "a")],
        "subj string, pred string, obj string",
    )
    got = execute(
        tri,
        "SELECT ?x ?y WHERE { ?x knows ?y . "
        "VALUES (?x ?y) { (a b) (c a) (a zzz) } } ORDER BY ?x",
    ).collect()
    assert [tuple(r) for r in got] == [("a", "b"), ("c", "a")]
    # per-variable lists are independent: (a knows c) also survives
    indep = execute(
        tri,
        "SELECT ?x ?y WHERE { ?x knows ?y . VALUES ?x { a c } "
        "VALUES ?y { b c a } } ORDER BY ?x ?y",
    ).collect()
    assert [tuple(r) for r in indep] == [("a", "b"), ("a", "c"), ("c", "a")]
    for bad in [
        "SELECT ?x WHERE { ?x knows ?y . VALUES (?x ?y) { (a) } }",
        "SELECT ?x WHERE { ?x knows ?y . VALUES () { (a) } }",
        "SELECT ?x WHERE { ?x knows ?y . VALUES (?x) { } }",
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse(bad)


def test_parse_bound_and_optional_filters():
    s = parse(
        """SELECT ?x WHERE {
             ?x knows ?y .
             OPTIONAL { ?y works_at ?w . FILTER (?w != 'globex') }
             FILTER (!BOUND(?w))
             FILTER BOUND(?x)
           }"""
    )
    assert s["optional"] == [
        {
            "patterns": [("?y", "works_at", "?w")],
            "filters": [("!=", "?w", "globex")],
        }
    ]
    assert s["filters"] == [("not", ("bound", "?w")), ("bound", "?x")]
    # a filter-free OPTIONAL keeps the back-compatible list shape
    s2 = parse("SELECT ?x WHERE { ?x knows ?y . OPTIONAL { ?y p ?z } }")
    assert s2["optional"] == [[("?y", "p", "?z")]]
    # negation is a compound node
    s3 = parse("SELECT ?x WHERE { ?x p ?y . FILTER (!CONTAINS(?y, 'a')) }")
    assert s3["filters"] == [("not", ("contains", "?y", "a"))]
    with pytest.raises(SparqlSyntaxError, match="needs a \\?var"):
        parse("SELECT ?x WHERE { ?x p ?y . FILTER BOUND(lit) }")


def test_execute_bound_and_optional_filter(spark):
    from nametag3_spark.operators.bgp import bgp_query
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    # the absent-fact negation idiom: who knows someone with NO
    # workplace fact?
    rows = execute(
        tri,
        """SELECT ?x ?y WHERE {
             ?x knows ?y .
             OPTIONAL { ?y works_at ?w }
             FILTER (!BOUND(?w))
           }""",
    ).collect()
    assert [(r.x, r.y) for r in rows] == [("dave", "erin")]
    # positive BOUND keeps only the matched rows
    rows = execute(
        tri,
        """SELECT DISTINCT ?x WHERE {
             ?x knows ?y . OPTIONAL { ?y works_at ?w } FILTER BOUND(?w)
           }""",
    ).collect()
    assert sorted(r.x for r in rows) == ["alice", "bob"]
    # an inner FILTER scopes to the left join: required rows SURVIVE
    # with an unbound ?w instead of dropping
    rows = execute(
        tri,
        """SELECT ?x ?y ?w WHERE {
             ?x knows ?y .
             OPTIONAL { ?y works_at ?w . FILTER (?w = 'globex') }
           }""",
    ).collect()
    assert len(rows) == 4 and all(r.w is None for r in rows)
    # the SAME filter at top level drops the unmatched rows too
    # (NULL-comparison-is-false) — the scoping difference in one pair
    rows = execute(
        tri,
        """SELECT ?x WHERE {
             ?x knows ?y .
             OPTIONAL { ?y works_at ?w }
             FILTER (?w = 'globex')
           }""",
    ).collect()
    assert rows == []
    # engine contract: an optional-group filter may only reference
    # variables the group itself binds
    with pytest.raises(ValueError, match="not bound"):
        bgp_query(
            tri,
            [("?x", "knows", "?y")],
            optional=[
                {
                    "patterns": [("?y", "works_at", "?w")],
                    "filters": [("=", "?q", "acme")],
                }
            ],
        )


def test_parse_filter_connectives():
    s = parse(
        """SELECT ?x WHERE {
             ?x age ?a . ?x name ?n .
             FILTER (?a > 3 && ?a < 9)
             FILTER (CONTAINS(?n, 'li') || STRSTARTS(?n, 'Bo') || ?a = 7)
             FILTER (!(?a = 5) && !BOUND(?w))
             FILTER (?a > 1 || ?a < 0 && ?n = 'x')
           }"""
    )
    assert s["filters"] == [
        ("and", (">", "?a", 3), ("<", "?a", 9)),
        ("or", ("contains", "?n", "li"), ("strstarts", "?n", "Bo"),
         ("=", "?a", 7)),
        ("and", ("not", ("=", "?a", 5)), ("not", ("bound", "?w"))),
        # SPARQL precedence: && binds tighter than ||
        ("or", (">", "?a", 1), ("and", ("<", "?a", 0), ("=", "?n", "x"))),
    ]
    # bare comparisons still need brackets (SPARQL's FILTER grammar)
    with pytest.raises(SparqlSyntaxError, match="FILTER needs"):
        parse("SELECT ?x WHERE { ?x p ?y . FILTER ?y = bob && ?y != sam }")
    # a bare word holding '?' is no literal (it would match nothing)
    with pytest.raises(SparqlSyntaxError, match="unary minus"):
        parse("SELECT ?x WHERE { ?x p ?a . FILTER (-?a < 3) }")


# one expression grammar: calls and literals on either side of a
# comparison, arithmetic chains with precedence, boolean BINDs and IF
# conditions over any expression — (query, expected rows by hand)
_EXPRESSION_QUERIES = [
    ("SELECT ?x ?y WHERE { ?x knows ?y . FILTER (STRLEN(?y) > 3) }",
     {("alice", "carol"), ("bob", "carol"), ("dave", "erin")}),
    ("SELECT ?x WHERE { ?x works_at ?y . FILTER (LCASE(?y) = 'acme') }",
     {("bob",), ("carol",)}),
    ('SELECT ?x WHERE { ?x works_at ?y . FILTER ("acme" = ?y) }',
     {("bob",), ("carol",)}),
    # 5 + 7 > 10 only for alice/carol (alice/bob, bob/carol, dave/erin
    # sum to 10)
    ("SELECT ?x ?y WHERE { ?x knows ?y . BIND (STRLEN(?x) AS ?a) "
     "BIND (STRLEN(?y) + 2 AS ?b) FILTER (?a + ?b > 10) }",
     {("alice", "carol")}),
    ("SELECT ?x WHERE { ?x works_at ?y . FILTER CONTAINS(LCASE(?y), 'ac') }",
     {("bob",), ("carol",)}),
    # * binds tighter than +: bob 3 * 2 + 1 = 7, not 3 * (2 + 1)
    ("SELECT DISTINCT ?x ?v WHERE { ?s knows ?x . BIND (STRLEN(?x) AS ?y) "
     "BIND (?y * 2 + 1 AS ?v) }",
     {("bob", 7.0), ("carol", 11.0), ("erin", 9.0)}),
    ("SELECT DISTINCT ?x ?v WHERE { ?s knows ?x . BIND (STRLEN(?x) AS ?y) "
     "BIND (?y + 1 + 2 AS ?v) }",
     {("bob", 6.0), ("carol", 8.0), ("erin", 7.0)}),
    ("SELECT DISTINCT ?x ?f WHERE { ?s knows ?x . BIND (STRLEN(?x) AS ?y) "
     "BIND (?y > 3 AS ?f) }",
     {("bob", False), ("carol", True), ("erin", True)}),
    ("SELECT DISTINCT ?y ?f WHERE { ?x knows ?y . "
     "BIND (IF(STRLEN(?y) > 3, 'long', 'short') AS ?f) }",
     {("bob", "short"), ("carol", "long"), ("erin", "long")}),
]


@pytest.mark.parametrize("query,rows", _EXPRESSION_QUERIES)
def test_one_expression_grammar(spark, query, rows):
    from nametag3_spark.operators.sparql import execute

    assert {tuple(r) for r in execute(_tri(spark), query).collect()} == rows


def test_filter_and_having_need_boolean_nodes(spark):
    """FILTER and HAVING raise on a node that is not boolean-valued."""
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    with pytest.raises(ValueError, match="boolean"):
        execute(tri, "SELECT ?x WHERE { ?x knows ?y . FILTER (STRLEN(?y)) }")
    with pytest.raises(ValueError, match="boolean"):
        execute(
            tri,
            "SELECT ?x (COUNT(?y) AS ?n) WHERE { ?x knows ?y } "
            "GROUP BY ?x HAVING (?n + 1)",
        )


def test_execute_filter_connectives(spark):
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    # || across two string predicates
    rows = execute(
        tri,
        """SELECT DISTINCT ?x WHERE {
             ?x works_at ?w .
             FILTER (?w = 'globex' || STRSTARTS(?w, 'ac'))
           }""",
    ).collect()
    assert sorted(r.x for r in rows) == ["alice", "bob", "carol"]
    # && with a negated atom
    rows = execute(
        tri,
        """SELECT DISTINCT ?x WHERE {
             ?x works_at ?w .
             FILTER (!(?w = 'globex') && CONTAINS(?x, 'o'))
           }""",
    ).collect()
    assert sorted(r.x for r in rows) == ["bob", "carol"]
    # SPARQL error-propagation through ||: the unbound side is NULL,
    # NULL || true = true keeps the row (matches SPARQL's
    # error || true = true)
    rows = execute(
        tri,
        """SELECT ?x ?y WHERE {
             ?x knows ?y .
             OPTIONAL { ?y works_at ?w }
             FILTER (?w = 'acme' || ?y = 'erin')
           }""",
    ).collect()
    assert sorted((r.x, r.y) for r in rows) == [
        ("alice", "bob"), ("alice", "carol"), ("bob", "carol"),
        ("dave", "erin"),
    ]


def test_zero_or_one_path_text(spark):
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    # zero-length: every term matches itself, so alice knows? alice
    assert execute(tri, "ASK { alice knows? alice }") is True
    got = {
        r.x
        for r in execute(
            tri, "SELECT ?x WHERE { alice knows? ?x }"
        ).collect()
    }
    assert got == {"alice", "bob", "carol"}


def test_parse_if_and_coalesce():
    s = parse(
        """SELECT ?v WHERE {
             ?x knows ?y .
             OPTIONAL { ?y works_at ?w }
             BIND (COALESCE(?w, 'none') AS ?org)
             BIND (IF(BOUND(?w), 'hired', 'free') AS ?v)
           }"""
    )
    assert s["binds"] == [
        (("coalesce", "?w", "none"), "org"),
        (("if", ("bound", "?w"), "hired", "free"), "v"),
    ]
    s2 = parse(
        "SELECT ?v WHERE { ?x age ?a . "
        "BIND (IF(?a > 3 && ?a < 9, 'mid', 'edge') AS ?v) }"
    )
    assert s2["binds"] == [
        (("if", ("and", (">", "?a", 3), ("<", "?a", 9)), "mid", "edge"),
         "v"),
    ]


def test_execute_if_and_coalesce(spark):
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    rows = execute(
        tri,
        """SELECT ?y ?org ?v WHERE {
             ?x knows ?y .
             OPTIONAL { ?y works_at ?w }
             BIND (COALESCE(?w, 'none') AS ?org)
             BIND (IF(BOUND(?w), 'hired', 'free') AS ?v)
           }""",
    ).collect()
    got = {(r.y, r.org, r.v) for r in rows}
    assert got == {
        ("bob", "acme", "hired"),
        ("carol", "acme", "hired"),
        ("erin", "none", "free"),
    }


def test_parse_in_and_strends():
    s = parse(
        """SELECT ?x WHERE {
             ?x works_at ?w .
             FILTER (?w IN ('acme', 'globex', 7))
             FILTER (?x NOT IN (dave))
             FILTER STRENDS(?w, 'ex')
             FILTER (STRENDS(?w, 'me') || ?w IN ('x'))
           }"""
    )
    assert s["filters"] == [
        ("in", "?w", ("acme", "globex", "7")),  # numerics stay strings
        ("not", ("in", "?x", ("dave",))),
        ("strends", "?w", "ex"),
        ("or", ("strends", "?w", "me"), ("in", "?w", ("x",))),
    ]
    with pytest.raises(SparqlSyntaxError, match="empty IN"):
        parse("SELECT ?x WHERE { ?x p ?y . FILTER (?y IN ()) }")
    with pytest.raises(SparqlSyntaxError, match="expected IN"):
        parse("SELECT ?x WHERE { ?x p ?y . FILTER (?y NOT 3) }")


def test_execute_in_and_strends(spark):
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    rows = execute(
        tri,
        """SELECT DISTINCT ?x WHERE {
             ?x knows ?y . FILTER (?y IN ('bob', 'erin'))
           }""",
    ).collect()
    assert sorted(r.x for r in rows) == ["alice", "dave"]
    rows = execute(
        tri,
        """SELECT DISTINCT ?x WHERE {
             ?x works_at ?w .
             FILTER (?x NOT IN ('alice') && STRENDS(?w, 'me'))
           }""",
    ).collect()
    assert sorted(r.x for r in rows) == ["bob", "carol"]


def test_parse_regex_flags_substr_replace():
    s = parse(
        """SELECT ?v WHERE {
             ?x name ?n .
             FILTER REGEX(?n, 'ali', 'i')
             BIND (SUBSTR(?n, 1, 3) AS ?pre)
             BIND (REPLACE(?n, '[aeiou]', '_') AS ?v)
           }"""
    )
    assert s["filters"] == [("regex", "?n", "(?i)ali")]
    assert s["binds"] == [
        (("substr", "?n", 1, 3), "pre"),
        (("replace", "?n", "[aeiou]", "_"), "v"),
    ]
    with pytest.raises(SparqlSyntaxError, match="REGEX flags"):
        parse("SELECT ?x WHERE { ?x p ?n . FILTER REGEX(?n, 'a', 'q') }")


def test_execute_regex_flags_substr_replace(spark):
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    rows = execute(
        tri,
        """SELECT DISTINCT ?x WHERE {
             ?x works_at ?w . FILTER REGEX(?x, 'ALI', 'i')
           }""",
    ).collect()
    assert [r.x for r in rows] == ["alice"]
    rows = execute(
        tri,
        """SELECT DISTINCT ?w ?pre ?v WHERE {
             bob works_at ?w .
             BIND (SUBSTR(?w, 1, 3) AS ?pre)
             BIND (REPLACE(?w, '[aeiou]', '_') AS ?v)
           }""",
    ).collect()
    assert [(r.w, r.pre, r.v) for r in rows] == [("acme", "acm", "_cm_")]


def test_parse_path_group_sequences():
    s = parse("SELECT ?x WHERE { alice (knows|likes)/works_at ?x }")
    assert s["patterns"] == [("alice", "(knows|likes)/works_at", "?x")]
    s = parse("SELECT ?x WHERE { alice knows/(knows|works_at)+ ?x }")
    assert s["patterns"] == [("alice", "knows/(knows|works_at)+", "?x")]
    s = parse("SELECT ?x WHERE { ?x ^(knows|likes) alice }")
    assert s["patterns"] == [("?x", "^(knows|likes)", "alice")]
    s = parse("SELECT ?x WHERE { alice (knows|likes)? ?x }")
    assert s["patterns"] == [("alice", "(knows|likes)?", "?x")]
    s = parse("SELECT ?x WHERE { alice (knows|likes)+/works_at/(a|b) ?x }")
    assert s["patterns"] == [
        ("alice", "(knows|likes)+/works_at/(a|b)", "?x")
    ]
    with pytest.raises(SparqlSyntaxError, match="dangling"):
        parse("SELECT ?x WHERE { alice knows/ ?x }")
    # nested groups stay a loud error, not a silent literal
    with pytest.raises(SparqlSyntaxError, match="inside"):
        parse("SELECT ?x WHERE { alice ((knows|likes)|p) ?x }")


def test_execute_path_group_sequences(spark):
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    # group then plain step: alice -(knows|works_at)-> y -works_at-> x
    got = execute(
        tri,
        "SELECT DISTINCT ?x WHERE { alice (knows|works_at)/works_at ?x }",
    ).collect()
    assert sorted(r.x for r in got) == ["acme"]
    # plain step then closed group
    got = execute(
        tri,
        "SELECT DISTINCT ?x WHERE { alice knows/(knows|works_at)+ ?x }",
    ).collect()
    assert sorted(r.x for r in got) == ["acme", "carol"]
    # inverse group: acme ^p ?x matches ?x p acme
    got = execute(
        tri, "SELECT DISTINCT ?x WHERE { acme ^(knows|works_at) ?x }"
    ).collect()
    assert sorted(r.x for r in got) == ["bob", "carol"]
    # a sequence hiding inside a group fails loudly (alternations only)
    with pytest.raises(ValueError, match="plain predicates only"):
        execute(tri, "SELECT ?x WHERE { alice (knows/works_at) ?x }")


def test_union_branch_private_vars_null_fill(spark):
    """Branch-private UNION variables survive NULL-filled in the
    branches that don't bind them — standalone (explicit select) AND
    composed with other patterns; a private name colliding with an
    outer binding raises instead of silently dropping rows."""
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    # standalone: ?y bound only by branch 1, ?w only by branch 2
    got = execute(
        tri,
        "SELECT ?x ?y ?w WHERE "
        "{ { ?x knows ?y } UNION { ?x works_at ?w } } ORDER BY ?x ?y ?w",
    ).collect()
    assert len(got) == 7
    assert {(r.x, r.y, r.w) for r in got} == {
        ("alice", "bob", None), ("alice", "carol", None),
        ("bob", "carol", None), ("dave", "erin", None),
        ("carol", None, "acme"), ("bob", None, "acme"),
        ("alice", None, "globex"),
    }
    # composed: the chain joins on the shared var ?p; private ?y / ?w
    # ride through NULL-filled
    got = execute(
        tri,
        """SELECT ?p ?q ?y ?w WHERE {
             ?p knows ?q .
             { ?p knows ?y } UNION { ?p works_at ?w }
           }""",
    ).collect()
    rows = {(r.p, r.q, r.y, r.w) for r in got}
    assert ("alice", "bob", "carol", None) in rows
    assert ("alice", "bob", None, "globex") in rows
    assert all((r.y is None) != (r.w is None) for r in got)
    # collision: private ?q is also bound by the required pattern
    with pytest.raises(SparqlSyntaxError, match="branch-private"):
        execute(
            tri,
            """SELECT ?p WHERE {
                 ?p knows ?q .
                 { ?p knows ?x } UNION { ?p works_at ?q }
               }""",
        )
    # a FILTER over a private var of a lone union evaluates over the
    # NULL-filled column: unbound compares as error → false
    got = execute(
        tri,
        "SELECT ?x ?w WHERE { { ?x knows ?y } UNION "
        "{ ?x works_at ?w } FILTER (?w != 'acme') }",
    ).collect()
    assert {(r.x, r.w) for r in got} == {("alice", "globex")}


def test_execute_graph_variable_alternation(spark):
    """The text layer composes GRAPH ?g with per-edge path kinds now
    that the engine binds the graph on alternation/negated-set scans."""
    from nametag3_spark.operators.sparql import execute

    quads = spark.createDataFrame(
        [("g1", "a", "p", "b"), ("g2", "a", "q", "c"), ("g2", "a", "z", "d")],
        "graph string, subj string, pred string, obj string",
    )
    rows = execute(
        quads, "SELECT ?g ?o WHERE { GRAPH ?g { a p|q ?o } }"
    ).collect()
    assert {(r.g, r.o) for r in rows} == {("g1", "b"), ("g2", "c")}
    rows = execute(
        quads, "SELECT ?g ?o WHERE { GRAPH ?g { a !(p|q) ?o } }"
    ).collect()
    assert {(r.g, r.o) for r in rows} == {("g2", "d")}


def test_parse_negated_property_sets_text_form():
    s = parse("SELECT ?o WHERE { a !p ?o }")
    assert s["patterns"] == [("a", "!p", "?o")]
    s = parse("SELECT ?o WHERE { a !(p|q) ?o }")
    assert s["patterns"] == [("a", "!(p|q)", "?o")]
    with pytest.raises(SparqlSyntaxError, match="after '!'"):
        parse("SELECT ?o WHERE { a ! . }")


def test_union_under_graph(spark):
    """UNION inside the GRAPH block: branches scope to the literal
    graph, or bind the GRAPH variable per row (same-graph join with
    the block's other patterns); beside other patterns the block is one
    leg of the chain."""
    from nametag3_spark.operators.sparql import execute

    quads = spark.createDataFrame(
        [
            ("g1", "a", "p", "b"), ("g1", "a", "q", "c"),
            ("g1", "b", "t", "yes"),
            ("g2", "a", "p", "b2"), ("g2", "b2", "t", "yes"),
            ("g2", "a", "q", "c2"),
        ],
        "graph string, subj string, pred string, obj string",
    )
    # literal graph, sole union inside the block
    rows = execute(
        quads,
        "SELECT ?o WHERE { GRAPH g1 { { a p ?o } UNION { a q ?o } } }",
    ).collect()
    assert sorted(r.o for r in rows) == ["b", "c"]
    # graph variable: union branches bind ?g; composed with a triple
    # in the same block the join stays within one graph per binding —
    # g1's q-object c has no t-edge, so only p-branch rows survive
    rows = execute(
        quads,
        """SELECT ?g ?o WHERE {
             GRAPH ?g { ?o t yes . { a p ?o } UNION { a q ?o } }
           }""",
    ).collect()
    assert sorted((r.g, r.o) for r in rows) == [("g1", "b"), ("g2", "b2")]
    # a UNION alongside a GRAPH block is per-block mixing now: the
    # union queries the default-graph union, the block its graph
    s = parse(
        "SELECT ?o WHERE { GRAPH g1 { a p ?o } "
        "{ a p ?o } UNION { a q ?o } }"
    )
    [(term, blk)] = s["graph_blocks"]
    assert term == "g1" and blk["patterns"] == [("a", "p", "?o")]
    assert s["union"] == [[("a", "p", "?o")], [("a", "q", "?o")]]
    # a union INSIDE a block beside a default-graph pattern: the block
    # (g1's p/q objects b, c) joins the default-graph t-edge subjects
    rows = execute(
        quads,
        "SELECT ?o WHERE { ?o t ?x . "
        "GRAPH g1 { { a p ?o } UNION { a q ?o } } }",
    ).collect()
    assert [r.o for r in rows] == ["b"]


def test_per_block_graph_mixing(spark):
    """Multiple GRAPH blocks and default-graph triples mix: each block
    compiles against its own graph and joins the chain on shared
    variables; the same GRAPH variable across two blocks means the
    same graph per binding."""
    from nametag3_spark.operators.sparql import execute

    quads = spark.createDataFrame(
        [
            ("g1", "a", "p", "b"), ("g1", "b", "q", "c"),
            ("g2", "a", "p", "b"), ("g2", "b", "q", "z"),
            ("g2", "a", "p", "k"),
            ("g3", "k", "q", "w"),
        ],
        "graph string, subj string, pred string, obj string",
    )
    # literal blocks: g1's p-edge chained into g3's q-edge
    rows = execute(
        quads,
        "SELECT ?x ?y WHERE { GRAPH g2 { a p ?x } GRAPH g3 { ?x q ?y } }",
    ).collect()
    assert {(r.x, r.y) for r in rows} == {("k", "w")}
    # same variable across two blocks: same graph per binding
    rows = execute(
        quads,
        "SELECT ?g ?x ?y WHERE { GRAPH ?g { a p ?x } GRAPH ?g { ?x q ?y } }",
    ).collect()
    assert {(r.g, r.x, r.y) for r in rows} == {
        ("g1", "b", "c"), ("g2", "b", "z")}
    # default-graph triple + a graph block (default = union of graphs)
    rows = execute(
        quads,
        "SELECT ?g ?x WHERE { ?x q ?y . GRAPH ?g { a p ?x } }",
    ).collect()
    assert {(r.g, r.x) for r in rows} == {
        ("g1", "b"), ("g2", "b"), ("g2", "k")}


def test_rich_graph_block_sole_shape(spark):
    """OPTIONAL/FILTER/MINUS INSIDE the GRAPH braces join the block's
    scoped chain, whether or not the block is the query's only graph
    pattern; a subquery inside a literal block reads that graph; a
    nested GRAPH raises."""
    from nametag3_spark.operators.sparql import execute

    quads = spark.createDataFrame(
        [
            ("g1", "a", "p", "b"), ("g1", "b", "q", "w1"),
            ("g2", "a", "p", "c"),
            # g2's q-edge for c exists only in g1: OPTIONAL must NOT
            # see it (scoped source)
            ("g1", "c", "q", "leak"),
        ],
        "graph string, subj string, pred string, obj string",
    )
    rows = execute(
        quads,
        """SELECT ?g ?y ?w WHERE {
             GRAPH ?g {
               a p ?y .
               OPTIONAL { ?y q ?w }
               FILTER (?y != 'nobody')
             }
           }""",
    ).collect()
    assert {(r.g, r.y, r.w) for r in rows} == {
        ("g1", "b", "w1"), ("g2", "c", None)}
    # a FILTER inside a block beside a default-graph pattern: g1 is
    # filtered out, g2's a-p-c meets the default graph's c-q-leak
    rows = execute(
        quads,
        "SELECT ?g ?y ?w WHERE { ?y q ?w . "
        "GRAPH ?g { a p ?y . FILTER (?g != 'g1') } }",
    ).collect()
    assert {(r.g, r.y, r.w) for r in rows} == {("g2", "c", "leak")}
    with pytest.raises(SparqlSyntaxError, match="nested GRAPH"):
        parse("SELECT ?x WHERE { GRAPH g1 { GRAPH g2 { ?x p ?y } } }")
    # a subquery in a block beside a default-graph pattern reads the
    # block's graph: g1 holds q-edges for b and c, g2 none
    def q(g):
        return (
            f"SELECT ?y ?w WHERE {{ ?y q ?w . GRAPH {g} {{ a p ?y . "
            "{ SELECT ?y WHERE { ?y q ?z } } } }"
        )

    rows = execute(quads, q("g1")).collect()
    assert {(r.y, r.w) for r in rows} == {("b", "w1")}
    assert execute(quads, q("g2")).collect() == []


def test_subquery_inside_graph_block(spark):
    """A subquery inside a LITERAL GRAPH block compiles against the
    scoped store: it must not see same-shaped facts in other graphs.
    Under GRAPH ?var the compiler raises (per-graph re-evaluation is
    not one pre-filter), as does a subquery carrying its own GRAPH."""
    from nametag3_spark.operators.sparql import execute

    quads = spark.createDataFrame(
        [
            ("g1", "a", "p", "b"), ("g1", "b", "q", "x1"),
            ("g1", "a", "p", "c"), ("g1", "c", "q", "x2"),
            # decoys in g2: b has MORE q-facts there; the inner
            # aggregate must count only g1's
            ("g2", "b", "q", "y1"), ("g2", "b", "q", "y2"),
            ("g2", "a", "p", "b"),
        ],
        "graph string, subj string, pred string, obj string",
    )
    rows = execute(
        quads,
        """SELECT ?y ?n WHERE {
             GRAPH g1 {
               a p ?y .
               { SELECT ?y (COUNT(?z) AS ?n) WHERE { ?y q ?z }
                 GROUP BY ?y }
             }
           }""",
    ).collect()
    assert {(r.y, r.n) for r in rows} == {("b", 1), ("c", 1)}
    with pytest.raises(SparqlSyntaxError, match="literal graph term"):
        execute(
            quads,
            "SELECT ?y WHERE { GRAPH ?g { a p ?y . "
            "{ SELECT ?y WHERE { ?y q ?z } } } }",
        )
    with pytest.raises(SparqlSyntaxError, match="cannot itself use"):
        execute(
            quads,
            "SELECT ?y WHERE { GRAPH g1 { a p ?y . "
            "{ SELECT ?y WHERE { GRAPH g2 { ?y q ?z } } } } }",
        )


def test_items_outside_graph_braces_read_the_default_graph(spark):
    """An OPTIONAL written after a GRAPH block's closing brace reads
    the default graph (the union of all graphs), not the block's."""
    from nametag3_spark.operators.sparql import execute

    quads = spark.createDataFrame(
        [("g1", "a", "p", "b"), ("g2", "b", "q", "w2")],
        "graph string, subj string, pred string, obj string",
    )
    rows = execute(
        quads,
        "SELECT ?y ?w WHERE { GRAPH g1 { a p ?y } OPTIONAL { ?y q ?w } }",
    ).collect()
    assert [(r.y, r.w) for r in rows] == [("b", "w2")]
    # the same OPTIONAL inside the braces reads g1 only
    rows = execute(
        quads,
        "SELECT ?y ?w WHERE { GRAPH g1 { a p ?y OPTIONAL { ?y q ?w } } }",
    ).collect()
    assert [(r.y, r.w) for r in rows] == [("b", None)]
    # a block's OPTIONAL-only ?w joined outside the braces would drop
    # the rows where ?w is unbound: loud, like a UNION-private clash
    with pytest.raises(SparqlSyntaxError, match="may be unbound"):
        execute(
            quads,
            "SELECT ?w WHERE { GRAPH g1 { a p ?y OPTIONAL { ?y q ?w } } "
            "?w r ?z }",
        )


def test_subquery_possibly_unbound_column_clash_raises(spark):
    """A subquery's OPTIONAL-only projected column (and a non-COUNT
    aggregate over one) may be NULL; joined on that name elsewhere in
    the group, the equality join would drop the unbound rows where
    SPARQL's compatible join keeps them — so it raises, like the same
    shape under a GRAPH block."""
    from nametag3_spark.operators.sparql import execute

    tri = spark.createDataFrame(
        [("a", "p", "b"), ("x", "r", "z")],
        "subj string, pred string, obj string",
    )
    for q in (
        "SELECT ?x ?w ?z WHERE { { SELECT ?x ?w WHERE { ?x p ?y "
        "OPTIONAL { ?y q ?w } } } ?w r ?z }",
        "SELECT ?x ?m ?z WHERE { { SELECT ?x (MIN(?w) AS ?m) WHERE "
        "{ ?x p ?y OPTIONAL { ?y q ?w } } GROUP BY ?x } ?m r ?z }",
    ):
        with pytest.raises(SparqlSyntaxError, match="may be unbound"):
            execute(tri, q)
    # the NULL-able column comes up through every depth of nesting: a
    # subquery inside the subquery, a GRAPH block inside a subquery and
    # a subquery inside a literal GRAPH block
    quads = spark.createDataFrame(
        [("g1", "a", "p", "b"), ("g1", "x", "r", "z")],
        "graph string, subj string, pred string, obj string",
    )
    inner = "SELECT ?x ?w WHERE { ?x p ?y OPTIONAL { ?y q ?w } }"
    for q in (
        f"SELECT ?x ?w ?z WHERE {{ {{ SELECT ?x ?w WHERE {{ {{ {inner} }} "
        "} } ?w r ?z }",
        "SELECT ?x ?w ?z WHERE { { SELECT ?x ?w WHERE { GRAPH g1 { ?x p ?y "
        "OPTIONAL { ?y q ?w } } } } ?w r ?z }",
        f"SELECT ?x ?w ?z WHERE {{ GRAPH g1 {{ ?x p ?v {{ {inner} }} }} "
        "?w r ?z }",
    ):
        with pytest.raises(SparqlSyntaxError, match="may be unbound"):
            execute(quads, q)
    # the NULL column joined on nothing keeps its unbound rows
    rows = execute(
        tri,
        "SELECT ?x ?w WHERE { { SELECT ?x ?w WHERE { ?x p ?y "
        "OPTIONAL { ?y q ?w } } } ?x p ?v }",
    ).collect()
    assert [(r.x, r.w) for r in rows] == [("a", None)]
    # a column the subquery always binds — a VALUES list drops its NULL
    # rows, a second leg binds it outright — joins like any other
    tri = spark.createDataFrame(
        [("a", "p", "b"), ("b", "q", "x"), ("x", "r", "z")],
        "subj string, pred string, obj string",
    )
    for body in (
        "?x p ?y OPTIONAL { ?y q ?w } VALUES ?w { x }",
        "?x p ?y OPTIONAL { ?y q ?w } { SELECT ?y ?w WHERE { ?y q ?w } }",
    ):
        rows = execute(
            tri,
            f"SELECT ?x ?w ?z WHERE {{ {{ SELECT ?x ?w WHERE {{ {body} }} }} "
            "?w r ?z }",
        ).collect()
        assert [(r.x, r.w, r.z) for r in rows] == [("a", "x", "z")]


def test_lone_union_without_a_shared_variable(spark):
    """A UNION that is the group's only pattern needs no shared
    variable: each branch's rows NULL-fill the other's variables (bag
    semantics)."""
    from nametag3_spark.operators.sparql import execute

    rows = execute(
        _tri(spark),
        "SELECT ?a ?b WHERE { { ?a works_at acme } UNION "
        "{ dave knows ?b } }",
    ).collect()
    assert sorted(((r.a, r.b) for r in rows), key=str) == sorted(
        [("bob", None), ("carol", None), (None, "erin")], key=str
    )


def test_one_group_compiler_source():
    """Every nested group reaches bgp_query as a leg: the SPARQL front
    end calls bgp_union once (the UNION leg) and holds no second GRAPH
    or UNION path."""
    import inspect

    from nametag3_spark.operators import sparql

    src = inspect.getsource(sparql)
    assert src.count("bgp_union(") == 1
    for gone in ("sole_union", "graph_legs", "graph_subqueries",
                 "compose_union"):
        assert gone not in src


from hypothesis import given, settings
from hypothesis import strategies as st

_H_ENT = st.sampled_from(["a", "b", "c"])
_H_PRED = st.sampled_from(["p", "q"])
_H_TRIPLE = st.tuples(_H_ENT, _H_PRED, _H_ENT)


@given(
    triples=st.lists(_H_TRIPLE, min_size=1, max_size=12),
    b1_o=st.sampled_from(["?y", "?x", "a", "b"]),
    b2_o=st.sampled_from(["?w", "?x", "a", "c"]),
    p1=_H_PRED,
    p2=_H_PRED,
    pr=_H_PRED,
    req_o=st.sampled_from(["?v", "a", "b", "?x"]),
)
@settings(max_examples=10, deadline=None)
def test_union_private_vars_differential(
    spark, triples, b1_o, b2_o, p1, p2, pr, req_o
):
    """Composed UNION with (possibly) branch-private variables vs a
    Python evaluator of the documented semantics: branch solutions
    NULL-extend to the union's full variable set, the leg joins the
    required pattern on the every-branch variables, bag semantics."""
    from collections import Counter

    from tests.test_bgp import _py_bgp
    from nametag3_spark.operators.sparql import execute

    store = sorted(set(triples))
    df = spark.createDataFrame(
        store, "subj string, pred string, obj string"
    )
    b1, b2 = ("?x", p1, b1_o), ("?x", p2, b2_o)
    req = ("?x", pr, req_o)

    def pvars(p):
        return {t[1:] for t in p if t.startswith("?")}

    u_all = sorted(pvars(b1) | pvars(b2))
    shared = pvars(b1) & pvars(b2)
    private = set(u_all) - shared
    cols = sorted(set(u_all) | pvars(req))
    q = (
        "SELECT " + " ".join("?" + c for c in cols)
        + " WHERE { " + " ".join(req) + " . { " + " ".join(b1)
        + " } UNION { " + " ".join(b2) + " } }"
    )
    if private & pvars(req):
        with pytest.raises(SparqlSyntaxError, match="branch-private"):
            execute(df, q)
        return
    got = Counter(
        tuple(r[c] for c in cols)
        for r in (row.asDict() for row in execute(df, q).collect())
    )
    u_rows = [
        {v: s.get(v) for v in u_all}
        for br in (b1, b2)
        for s in _py_bgp(set(store), [br])
    ]
    want = Counter(
        tuple({**u, **r}[c] for c in cols)
        for r in _py_bgp(set(store), [req])
        for u in u_rows
        if all(u[k] == r[k] for k in shared & pvars(req))
    )
    assert got == want


_H_GRAPH = st.sampled_from(["g1", "g2"])
_H_QUAD = st.tuples(_H_GRAPH, _H_ENT, _H_PRED, _H_ENT)


@given(
    quads=st.lists(_H_QUAD, min_size=1, max_size=14),
    req_o=st.sampled_from(["?y", "a", "b"]),
    blk_term=st.sampled_from(["?g", "g1", "g2"]),
    blk_o=st.sampled_from(["?z", "a", "c", "?x"]),
    pr=_H_PRED,
    pb=_H_PRED,
    blk_not=st.sampled_from([None, "a", "b"]),
)
@settings(max_examples=10, deadline=None)
def test_per_block_graph_differential(
    spark, quads, req_o, blk_term, blk_o, pr, pb, blk_not
):
    """Per-block GRAPH mixing vs a Python evaluator: the default
    pattern scans the bag union of all graphs, the block scans its
    graph (binding ?g per graph for a variable term), optionally
    filtered inside its braces on its own ?x, joined on the shared
    variables — bag semantics throughout."""
    from collections import Counter

    from tests.test_bgp import _py_bgp
    from nametag3_spark.operators.sparql import execute

    store = sorted(set(quads))
    df = spark.createDataFrame(
        store, "graph string, subj string, pred string, obj string"
    )
    req = ("?x", pr, req_o)
    blk = ("?x", pb, blk_o)

    def pvars(p):
        return {t[1:] for t in p if t.startswith("?")}

    g_is_var = blk_term.startswith("?")
    cols = sorted(
        pvars(req) | pvars(blk) | ({blk_term[1:]} if g_is_var else set())
    )
    flt = f" FILTER (?x != '{blk_not}')" if blk_not else ""
    q = (
        "SELECT " + " ".join("?" + c for c in cols)
        + " WHERE { " + " ".join(req) + " . GRAPH " + blk_term
        + " { " + " ".join(blk) + flt + " } }"
    )
    got = Counter(
        tuple(r[c] for c in cols)
        for r in (row.asDict() for row in execute(df, q).collect())
    )
    default_rows = [(s, p, o) for (_g, s, p, o) in store]  # bag union
    req_sols = _py_bgp(default_rows, [req])
    graphs = sorted({g for (g, *_r) in store}) if g_is_var else [blk_term]
    blk_sols = []
    for g in graphs:
        sub = [(s, p, o) for (gg, s, p, o) in store if gg == g]
        for s in _py_bgp(sub, [blk]):
            if blk_not and s["x"] == blk_not:
                continue
            blk_sols.append(
                {**s, blk_term[1:]: g} if g_is_var else dict(s)
            )
    keys = pvars(req) & set().union(*(set(b) for b in blk_sols or [{}]))
    want = Counter(
        tuple({**b, **r}[c] for c in cols)
        for r in req_sols
        for b in blk_sols
        if all(b[k] == r[k] for k in keys if k in b and k in r)
    )
    assert got == want


def test_sole_union_selects_bind_alias(spark):
    """A standalone UNION selecting a BIND alias projects the computed
    column in every branch (the partial-binding NULL-fill must not
    swallow it)."""
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    rows = execute(
        tri,
        "SELECT ?x ?b WHERE { { ?x knows carol } UNION "
        "{ ?x works_at globex } BIND (UCASE(?x) AS ?b) }",
    ).collect()
    assert {(r.x, r.b) for r in rows} == {
        ("alice", "ALICE"), ("bob", "BOB")}
    # mixed: a private var AND a bind alias in the same select
    rows = execute(
        tri,
        "SELECT ?x ?y ?b WHERE { { ?x knows ?y } UNION "
        "{ ?x works_at globex } BIND (STRLEN(?x) AS ?b) }",
    ).collect()
    assert all(r.b == str(len(r.x)) or float(r.b) == len(r.x) for r in rows)
    assert any(r.y is None for r in rows) and any(r.y is not None for r in rows)


def test_group_concat_separator(spark):
    from nametag3_spark.operators.sparql import execute

    s = parse(
        "SELECT ?x (GROUP_CONCAT(?y, '; ') AS ?g) WHERE "
        "{ ?x knows ?y } GROUP BY ?x"
    )
    assert s["aggs"] == [("group_concat", "?y", "g", "; ")]
    tri = _tri(spark)
    rows = execute(
        tri,
        "SELECT ?x (GROUP_CONCAT(?y, '|') AS ?g) WHERE { ?x knows ?y } "
        "GROUP BY ?x ORDER BY ?x",
    ).collect()
    assert [(r.x, r.g) for r in rows] == [
        ("alice", "bob|carol"), ("bob", "carol"), ("dave", "erin")]
    with pytest.raises(SparqlSyntaxError, match="quoted literal"):
        parse(
            "SELECT (GROUP_CONCAT(?y, sep) AS ?g) WHERE { ?x knows ?y }"
        )


def test_order_by_expressions(spark):
    """ORDER BY takes the BIND expression grammar: bare STRLEN(?x)
    ascending, DESC(expr), mixed with plain vars."""
    from nametag3_spark.operators.sparql import execute

    s = parse("SELECT ?x WHERE { ?x knows ?y } ORDER BY STRLEN(?x) ?x")
    assert s["order"] == [
        (("expr", ("strlen", "?x")), True), ("x", True)]
    tri = _tri(spark)
    rows = execute(
        tri,
        "SELECT DISTINCT ?x WHERE { ?x knows ?y } "
        "ORDER BY DESC(STRLEN(?x)) ?x",
    ).collect()
    assert [r.x for r in rows] == ["alice", "dave", "bob"]
    # a var-only ORDER BY keeps the old spec shape (regression guard)
    s2 = parse("SELECT ?x WHERE { ?x knows ?y } ORDER BY DESC(?x)")
    assert s2["order"] == [("x", False)]


def test_parse_filtered_witness_blocks():
    """FILTER [NOT] EXISTS / MINUS bodies accept inner FILTER
    expressions (the dict group shape); filter-free blocks keep the
    back-compatible plain-list shape."""
    s = parse(
        """SELECT ?x WHERE {
             ?x knows ?y .
             FILTER NOT EXISTS { ?x works_at ?w . FILTER (?w = 'globex') }
             FILTER EXISTS { ?x knows ?z . FILTER (?z != 'erin') }
             MINUS { ?x works_at ?w2 . FILTER CONTAINS(?w2, 'cme') }
           }"""
    )
    assert s["not_exists"] == [{
        "patterns": [("?x", "works_at", "?w")],
        "filters": [("=", "?w", "globex")],
    }]
    assert s["exists"] == [{
        "patterns": [("?x", "knows", "?z")],
        "filters": [("!=", "?z", "erin")],
    }]
    assert s["minus"] == [{
        "patterns": [("?x", "works_at", "?w2")],
        "filters": [("contains", "?w2", "cme")],
    }]
    with pytest.raises(SparqlSyntaxError, match="empty MINUS group"):
        parse("SELECT ?x WHERE { ?x knows ?y . MINUS { FILTER (?y = 'a') } }")


def test_execute_filtered_witness_blocks(spark):
    """Inner FILTERs inside [NOT] EXISTS/MINUS narrow the witness set
    (pre-join application == SPARQL substitution over the equi-joined
    shared vars); outer-only filter variables raise."""
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    # without the inner filter: any works_at edge removes alice+bob
    bare = execute(
        tri,
        "SELECT ?x WHERE { ?x knows ?y . "
        "FILTER NOT EXISTS { ?x works_at ?w } }",
    ).collect()
    assert sorted(r.x for r in bare) == ["dave"]
    # filtered witness: only a globex job disqualifies → bob survives
    got = execute(
        tri,
        "SELECT ?x WHERE { ?x knows ?y . "
        "FILTER NOT EXISTS { ?x works_at ?w . FILTER (?w = 'globex') } }",
    ).collect()
    assert sorted(r.x for r in got) == ["bob", "dave"]
    # EXISTS twin: a non-globex job is required → bob only
    got = execute(
        tri,
        "SELECT ?x WHERE { ?x knows ?y . "
        "FILTER EXISTS { ?x works_at ?w . FILTER (?w != 'globex') } }",
    ).collect()
    assert [r.x for r in got] == ["bob"]
    # MINUS: remove workers who know carol (alice, bob) → carol stays
    got = execute(
        tri,
        "SELECT ?x WHERE { ?x works_at ?a . "
        "MINUS { ?x knows ?y . FILTER (?y = 'carol') } }",
    ).collect()
    assert sorted(r.x for r in got) == ["carol"]
    # a filter variable bound by NEITHER side still raises
    with pytest.raises(ValueError, match="not bound"):
        execute(
            tri,
            "SELECT ?x WHERE { ?x knows ?y . "
            "FILTER NOT EXISTS { ?x works_at ?w . FILTER (?q = 'bob') } }",
        ).collect()


def test_correlated_witness_and_optional_filters(spark):
    """Filters naming OUTER variables inside [NOT] EXISTS / OPTIONAL
    compile into the join condition — SPARQL substitution / LeftJoin-
    condition semantics; MINUS rejects them loudly (per spec they
    would silently match nothing)."""
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    # NOT EXISTS: witness requires a works_at edge AND the OUTER ?y
    # to be bob — only (alice, bob) is removed
    got = execute(
        tri,
        "SELECT ?x ?y WHERE { ?x knows ?y . "
        "FILTER NOT EXISTS { ?x works_at ?w . FILTER (?y = 'bob') } }",
    ).collect()
    assert sorted((r.x, r.y) for r in got) == [
        ("alice", "carol"), ("bob", "carol"), ("dave", "erin"),
    ]
    # EXISTS with a var-to-var correlated comparison: keep knowers
    # employed somewhere OTHER than their friend's employer
    got = execute(
        tri,
        "SELECT ?x ?emp WHERE { ?x knows ?y . ?y works_at ?emp . "
        "FILTER EXISTS { ?x works_at ?w . FILTER (?w != ?emp) } }",
    ).collect()
    assert sorted((r.x, r.emp) for r in got) == [
        ("alice", "acme"), ("alice", "acme"),
    ]
    # OPTIONAL whose ONLY link to the required block is a correlated
    # filter (no shared pattern variable): ?z = ?y plays the join key
    got = execute(
        tri,
        "SELECT ?x ?y ?w WHERE { ?x knows ?y . "
        "OPTIONAL { ?z works_at ?w . FILTER (?z = ?y) } }",
    ).collect()
    assert sorted((r.x, r.y, r.w) for r in got) == [
        ("alice", "bob", "acme"),
        ("alice", "carol", "acme"),
        ("bob", "carol", "acme"),
        ("dave", "erin", None),
    ]
    # OPTIONAL with a correlated filter over an outer-only variable:
    # rows failing it keep the required bindings, NULL-extended
    got = execute(
        tri,
        "SELECT ?x ?y ?w WHERE { ?x knows ?y . "
        "OPTIONAL { ?y works_at ?w . FILTER (?x != 'alice') } }",
    ).collect()
    assert sorted((r.x, r.y, r.w) for r in got) == [
        ("alice", "bob", None),
        ("alice", "carol", None),
        ("bob", "carol", "acme"),
        ("dave", "erin", None),
    ]
    # MINUS: correlated filters raise (spec: right side evaluates
    # independently — the filter would see an unbound var and the
    # MINUS would silently remove nothing)
    with pytest.raises(ValueError, match="MINUS filters cannot reference"):
        execute(
            tri,
            "SELECT ?x WHERE { ?x works_at ?a . "
            "MINUS { ?x knows ?y . FILTER (?a = 'acme') } }",
        ).collect()


def test_parse_select_expressions():
    """(expr AS ?alias) in the SELECT list rides the BIND grammar:
    parsed into the group's bind chain, alias projected."""
    s = parse(
        "SELECT ?x (STRLEN(?x) AS ?n) WHERE { ?x knows ?y }"
    )
    assert s["select"] == ["x", "n"]
    assert s["binds"] == [(("strlen", "?x"), "n")]
    # aggregate items still parse as aggregates (lookahead, not BIND)
    s2 = parse(
        "SELECT (COUNT(*) AS ?c) WHERE { ?x knows ?y }"
    )
    assert s2["aggs"] == [("count", "*", "c")] and not s2["binds"]
    with pytest.raises(SparqlSyntaxError, match="cannot mix"):
        parse(
            "SELECT (COUNT(*) AS ?c) (STRLEN(?x) AS ?n) "
            "WHERE { ?x knows ?y } GROUP BY ?x"
        )


def test_execute_select_expressions(spark):
    from nametag3_spark.operators.sparql import execute

    tri = _tri(spark)
    got = execute(
        tri,
        "SELECT ?x (CONCAT(?x, '->', ?y) AS ?edge) "
        "WHERE { ?x knows ?y . FILTER (?y = 'carol') }",
    ).collect()
    assert sorted((r.x, r.edge) for r in got) == [
        ("alice", "alice->carol"), ("bob", "bob->carol"),
    ]
    # DISTINCT over a projection expression; may reference BIND aliases
    got = execute(
        tri,
        "SELECT DISTINCT (STRLEN(?n) AS ?len) WHERE { "
        "?x knows ?y . BIND (CONCAT(?x, ?x) AS ?n) }",
    ).collect()
    assert sorted(r.len for r in got) == [6, 8, 10]
    # alias colliding with a bound variable raises (SPARQL forbids it)
    with pytest.raises(ValueError, match="already bound"):
        execute(
            tri,
            "SELECT (STRLEN(?x) AS ?x) WHERE { ?x knows ?y }",
        ).collect()


def test_numeric_and_strbefore_builtins(spark):
    """BIND/SELECT-expression numeric builtins (ABS/ROUND/FLOOR/CEIL
    over double try_casts) and STRBEFORE/STRAFTER ('' on no match per
    spec)."""
    from nametag3_spark.operators.sparql import execute

    tri = spark.createDataFrame(
        [("a", "score", "-2.5"), ("b", "score", "1.4"),
         ("c", "score", "n/a")],
        "subj string, pred string, obj string",
    )
    got = execute(
        tri,
        "SELECT ?s (ABS(?v) AS ?a) (ROUND(?v) AS ?r) "
        "(FLOOR(?v) AS ?f) (CEIL(?v) AS ?c) "
        "WHERE { ?s score ?v }",
    ).collect()
    by = {r.s: (r.a, r.r, r.f, r.c) for r in got}
    assert by["a"] == (2.5, -3.0, -3.0, -2.0)  # round half away from 0
    assert by["b"] == (1.4, 1.0, 1.0, 2.0)
    assert by["c"] == (None, None, None, None)  # non-numeric → unbound
    got = execute(
        tri,
        "SELECT ?s (STRBEFORE(?v, '.') AS ?b) (STRAFTER(?v, '.') AS ?f) "
        "WHERE { ?s score ?v }",
    ).collect()
    by = {r.s: (r.b, r.f) for r in got}
    assert by["a"] == ("-2", "5")
    assert by["c"] == ("", "")  # separator absent: '' not NULL
