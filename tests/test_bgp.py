"""BGP triple-pattern compiler (operators/bgp.py) and k-hop BFS
(graph.khop_neighbors) — hand-computed goldens on tiny graphs, error
contracts (disconnected pattern, unbound select), bag-vs-set semantics,
repeated-variable equality, and a pure-Python BFS differential."""

from __future__ import annotations

import operator

import pytest
from pyspark.sql import functions as F

TRIPLES = [
    ("alice", "knows", "bob"),
    ("alice", "knows", "carol"),
    ("bob", "knows", "carol"),
    ("carol", "works_at", "acme"),
    ("bob", "works_at", "acme"),
    ("alice", "works_at", "globex"),
    ("dave", "likes", "dave"),
    ("dave", "knows", "erin"),
]


def _tri(spark):
    return spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")


def test_bgp_single_pattern_literal_pushdown(spark):
    from nametag3_spark.operators.bgp import bgp_query

    got = {
        tuple(r)
        for r in bgp_query(_tri(spark), [("?p", "works_at", "acme")]).collect()
    }
    assert got == {("bob",), ("carol",)}


def test_bgp_chain_join(spark):
    from nametag3_spark.operators.bgp import bgp_query

    # who does alice know that works at acme?
    got = {
        tuple(r)
        for r in bgp_query(
            _tri(spark),
            [("alice", "knows", "?x"), ("?x", "works_at", "acme")],
            select=["x"],
        ).collect()
    }
    assert got == {("bob",), ("carol",)}


def test_bgp_star_shared_subject(spark):
    from nametag3_spark.operators.bgp import bgp_query

    # entities that know carol AND work somewhere, with the employer
    rows = bgp_query(
        _tri(spark),
        [("?e", "knows", "carol"), ("?e", "works_at", "?org")],
    ).collect()
    assert {(r.e, r.org) for r in rows} == {("alice", "globex"), ("bob", "acme")}
    # default select = all vars sorted by name
    assert rows[0].__fields__ == ["e", "org"]


def test_bgp_bag_vs_distinct(spark):
    from nametag3_spark.operators.bgp import bgp_query

    pats = [("?s", "knows", "?x"), ("?s", "works_at", "?w")]
    bag = bgp_query(_tri(spark), pats, select=["s"]).collect()
    dedup = bgp_query(_tri(spark), pats, select=["s"], distinct=True).collect()
    # alice knows 2 people and works 1 place -> 2 bag rows, 1 set row
    assert sorted(r.s for r in bag) == ["alice", "alice", "bob"]
    assert sorted(r.s for r in dedup) == ["alice", "bob"]


def test_bgp_repeated_var_within_pattern(spark):
    from nametag3_spark.operators.bgp import bgp_query

    got = [tuple(r) for r in bgp_query(_tri(spark), [("?x", "likes", "?x")]).collect()]
    assert got == [("dave",)]


def test_bgp_disconnected_raises(spark):
    from nametag3_spark.operators.bgp import bgp_query

    with pytest.raises(ValueError, match="disconnected"):
        bgp_query(
            _tri(spark),
            [("?a", "knows", "bob"), ("?c", "works_at", "acme")],
        )


def test_bgp_unbound_select_and_empty_raise(spark):
    from nametag3_spark.operators.bgp import bgp_query

    with pytest.raises(ValueError, match="not bound"):
        bgp_query(_tri(spark), [("?a", "knows", "bob")], select=["zzz"])
    with pytest.raises(ValueError, match="empty"):
        bgp_query(_tri(spark), [])


def test_bgp_custom_column_names(spark):
    from nametag3_spark.operators.bgp import bgp_query

    df = spark.createDataFrame(TRIPLES, "s string, p string, o string")
    got = {
        tuple(r)
        for r in bgp_query(
            df, [("?x", "works_at", "acme")], subj_col="s", pred_col="p", obj_col="o"
        ).collect()
    }
    assert got == {("bob",), ("carol",)}


def _py_khop(edges, sources, k):
    """Independent BFS reference over the undirected edge set."""
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    out = {}
    for src in sources:
        dist = {src: 0}
        frontier = [src]
        for hop in range(1, k + 1):
            nxt = []
            for n in frontier:
                for m in adj.get(n, ()):
                    if m not in dist:
                        dist[m] = hop
                        nxt.append(m)
            frontier = nxt
        for n, h in dist.items():
            out[(src, n)] = h
    return out


def test_khop_matches_python_bfs(spark):
    from nametag3_spark.operators.graph import khop_neighbors, unpersist_intermediates

    edges = [
        ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
        ("a", "c"),  # shortcut: d is 2 hops from a, not 3
        ("x", "y"),  # disconnected island
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r.source, r.node): r.hops
        for r in khop_neighbors(df, sources=["a", "x"], k=2).collect()
    }
    unpersist_intermediates()
    assert got == _py_khop(edges, ["a", "x"], 2)
    # minimal-distance property: the a-c shortcut wins over a-b-c
    assert got[("a", "c")] == 1 and got[("a", "d")] == 2
    # island never reaches the main component
    assert ("x", "a") not in got and got[("x", "y")] == 1


def test_khop_zero_and_duplicate_edges(spark):
    from nametag3_spark.operators.graph import khop_neighbors, unpersist_intermediates

    df = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "a")], "src string, dst string"
    )
    got = {
        (r.source, r.node): r.hops
        for r in khop_neighbors(df, sources=["a"], k=3).collect()
    }
    unpersist_intermediates()
    # duplicate/reverse edges collapse; no node appears twice per source
    assert got == {("a", "a"): 0, ("a", "b"): 1}


def test_bgp_optional_left_join_semantics(spark):
    from nametag3_spark.operators.bgp import bgp_query

    # everyone alice knows, optionally where they work (all match here)
    rows = bgp_query(
        _tri(spark),
        [("alice", "knows", "?x")],
        optional=[[("?x", "works_at", "?org")]],
    ).collect()
    assert {(r.x, r.org) for r in rows} == {("bob", "acme"), ("carol", "acme")}
    # a selective optional group: only bob matches, carol keeps NULL
    rows = bgp_query(
        _tri(spark),
        [("alice", "knows", "?x")],
        optional=[[("?x", "knows", "?y")]],
    ).collect()
    got = {(r.x, r.y) for r in rows}
    assert got == {("bob", "carol"), ("carol", None)}


def test_bgp_optional_multi_pattern_group_is_inner_joined(spark):
    from nametag3_spark.operators.bgp import bgp_query

    # the optional group {?x knows ?y . ?y works_at acme} must match as
    # a UNIT: alice knows bob (bob knows carol, carol@acme -> bound);
    # dave knows erin, erin knows no one -> whole group NULL, not half
    tri = _tri(spark)
    rows = bgp_query(
        tri,
        [("?s", "knows", "?x")],
        optional=[[("?x", "knows", "?y"), ("?y", "works_at", "acme")]],
        select=["s", "x", "y"],
    ).collect()
    got = {(r.s, r.x, r.y) for r in rows}
    assert ("alice", "bob", "carol") in got
    assert ("dave", "erin", None) in got
    # no row where y is bound but its works_at pattern failed
    assert all(y is None or y == "carol" for _, _, y in got)


def test_bgp_optional_disconnected_group_raises(spark):
    from nametag3_spark.operators.bgp import bgp_query

    with pytest.raises(ValueError, match="OPTIONAL group shares no"):
        bgp_query(
            _tri(spark),
            [("alice", "knows", "?x")],
            optional=[[("?a", "works_at", "acme")]],
        )
    with pytest.raises(ValueError, match="empty OPTIONAL"):
        bgp_query(_tri(spark), [("alice", "knows", "?x")], optional=[[]])


def test_bgp_property_path_one_or_more(spark):
    from nametag3_spark.operators.bgp import bgp_query

    # knows+ from alice: bob, carol direct; carol again via bob (dedup
    # by min-hop closure); erin unreachable from alice
    got = {
        tuple(r)
        for r in bgp_query(_tri(spark), [("alice", "knows+", "?x")]).collect()
    }
    assert got == {("bob",), ("carol",)}
    # path + ordinary pattern joined: transitively-known people at acme
    got = {
        tuple(r)
        for r in bgp_query(
            _tri(spark),
            [("alice", "knows+", "?x"), ("?x", "works_at", "acme")],
            select=["x"],
        ).collect()
    }
    assert got == {("bob",), ("carol",)}


def test_bgp_property_path_depth_cap_and_cycles(spark):
    from nametag3_spark.operators.bgp import bgp_query

    chain = [(f"n{i}", "next", f"n{i+1}") for i in range(5)]
    tri = spark.createDataFrame(chain, "subj string, pred string, obj string")
    got = {
        r.x for r in bgp_query(tri, [("n0", "next+", "?x")], path_depth=2).collect()
    }
    assert got == {"n1", "n2"}  # capped at 2 steps
    # SPARQL arbitrary-length semantics: a 2-cycle closes back to the
    # start, so ?x next+ ?x matches both cycle members (a self-loop
    # edge counts too); nodes off the cycle never self-match
    loop = spark.createDataFrame(
        [("a", "next", "b"), ("b", "next", "a"), ("c", "next", "a"),
         ("s", "next", "s")],
        "subj string, pred string, obj string",
    )
    got = {tuple(r) for r in bgp_query(loop, [("?x", "next+", "?x")]).collect()}
    assert got == {("a",), ("b",), ("s",)}
    got = {tuple(r) for r in bgp_query(loop, [("a", "next+", "?x")]).collect()}
    assert got == {("a",), ("b",)}


def test_bgp_zero_or_more_no_duplicate_self_rows_on_cycle(spark):
    """p* = p+ ∪ zero-length; on a cyclic graph the cycle's self-pairs
    and the reflexive zero-length rows coincide — bag semantics must
    not double-count them (one row per (x,x), not two)."""
    from nametag3_spark.operators.bgp import bgp_query

    loop = spark.createDataFrame(
        [("a", "next", "b"), ("b", "next", "a"), ("c", "other", "d")],
        "subj string, pred string, obj string",
    )
    rows = bgp_query(loop, [("?x", "next*", "?x")]).collect()
    got = sorted(r.x for r in rows)
    # zero-length matches EVERY term in the graph exactly once
    assert got == ["a", "b", "c", "d"]


def test_bgp_values_restriction(spark):
    from nametag3_spark.operators.bgp import bgp_query

    got = {
        tuple(r)
        for r in bgp_query(
            _tri(spark),
            [("?s", "knows", "?x")],
            values={"x": ["carol", "erin"]},
        ).collect()
    }
    assert got == {("alice", "carol"), ("bob", "carol"), ("dave", "erin")}
    # unbound or empty VALUES raise
    with pytest.raises(ValueError, match="VALUES variable not bound"):
        bgp_query(_tri(spark), [("?s", "knows", "?x")], values={"zzz": ["a"]})
    with pytest.raises(ValueError, match="empty VALUES"):
        bgp_query(_tri(spark), [("?s", "knows", "?x")], values={"x": []})


def test_bgp_not_exists_anti_join(spark):
    from nametag3_spark.operators.bgp import bgp_query

    # people alice knows who do NOT work at acme -> nobody (both do);
    # people alice knows who do NOT know anyone -> carol
    got = {
        tuple(r)
        for r in bgp_query(
            _tri(spark),
            [("alice", "knows", "?x")],
            not_exists=[[("?x", "works_at", "acme")]],
        ).collect()
    }
    assert got == set()
    got = {
        tuple(r)
        for r in bgp_query(
            _tri(spark),
            [("alice", "knows", "?x")],
            not_exists=[[("?x", "knows", "?y")]],
        ).collect()
    }
    assert got == {("carol",)}
    with pytest.raises(ValueError, match="NOT EXISTS group shares no"):
        bgp_query(
            _tri(spark),
            [("alice", "knows", "?x")],
            not_exists=[[("?a", "likes", "?a")]],
        )


def test_construct_rule_derivation(spark):
    from nametag3_spark.operators.bgp import construct

    # rule: ?a knows ?b . ?b works_at ?w  =>  ?a affiliated_with ?w
    # plus a type assertion on the employer
    got = {
        tuple(r)
        for r in construct(
            _tri(spark),
            [("?a", "knows", "?b"), ("?b", "works_at", "?w")],
            template=[
                ("?a", "affiliated_with", "?w"),
                ("?w", "rdf_type", "Employer"),
            ],
        ).collect()
    }
    assert got == {
        ("alice", "affiliated_with", "acme"),   # via bob AND carol: one row
        ("bob", "affiliated_with", "acme"),     # via carol
        ("acme", "rdf_type", "Employer"),
    }


def test_construct_drops_null_optional_bindings(spark):
    from nametag3_spark.operators.bgp import construct

    got = {
        tuple(r)
        for r in construct(
            _tri(spark),
            [("alice", "knows", "?x")],
            template=[("?x", "second_degree", "?y")],
            optional=[[("?x", "knows", "?y")]],
        ).collect()
    }
    # carol's ?y is NULL -> no triple emitted for her
    assert got == {("bob", "second_degree", "carol")}


def test_construct_error_contracts(spark):
    from nametag3_spark.operators.bgp import construct

    with pytest.raises(ValueError, match="empty CONSTRUCT"):
        construct(_tri(spark), [("?a", "knows", "?b")], template=[])
    with pytest.raises(ValueError, match="owns the 'select'"):
        construct(
            _tri(spark), [("?a", "knows", "?b")],
            template=[("?a", "p", "?b")], select=["a"],
        )
    with pytest.raises(ValueError, match="not bound"):
        construct(
            _tri(spark), [("?a", "knows", "?b")],
            template=[("?a", "p", "?zzz")],
        )


def test_apply_rules_transitive_fixpoint(spark):
    from nametag3_spark.operators.bgp import apply_rules

    # after r rounds the transitive rule covers 2^(r-1)-step chains:
    # 4 edges close in 3 rounds (1 -> 2 -> 4 steps)
    chain = [(f"n{i}", "parent", f"n{i+1}") for i in range(4)]
    tri = spark.createDataFrame(chain, "subj string, pred string, obj string")
    anc_rules = [
        # base: every parent is an ancestor
        ([("?x", "parent", "?y")], [("?x", "anc", "?y")]),
        # transitivity: compounding doubles depth per round
        ([("?x", "anc", "?y"), ("?y", "anc", "?z")], [("?x", "anc", "?z")]),
    ]
    out = apply_rules(tri, anc_rules, rounds=3)
    anc = {(r.subj, r.obj) for r in out.where("pred = 'anc'").collect()}
    expect = {(f"n{i}", f"n{j}") for i in range(5) for j in range(i + 1, 5)}
    assert anc == expect
    # base triples always survive
    assert out.where("pred = 'parent'").count() == 4


def test_apply_rules_round_bound_and_errors(spark):
    from nametag3_spark.operators.bgp import apply_rules

    chain = [(f"n{i}", "parent", f"n{i+1}") for i in range(6)]
    tri = spark.createDataFrame(chain, "subj string, pred string, obj string")
    rules = [
        ([("?x", "parent", "?y")], [("?x", "anc", "?y")]),
        ([("?x", "anc", "?y"), ("?y", "anc", "?z")], [("?x", "anc", "?z")]),
    ]
    anc1 = {
        (r.subj, r.obj)
        for r in apply_rules(tri, rules, rounds=1).where("pred='anc'").collect()
    }
    # one round: only direct ancestors (transitivity saw no anc yet)
    assert anc1 == {(f"n{i}", f"n{i+1}") for i in range(6)}
    import pytest as _pt
    with _pt.raises(ValueError, match="rounds"):
        apply_rules(tri, rules, rounds=0)
    with _pt.raises(ValueError, match="empty rule set"):
        apply_rules(tri, [], rounds=1)


def test_apply_rules_semi_naive_matches_naive(spark):
    from nametag3_spark.operators.bgp import apply_rules

    chain = [(f"n{i}", "parent", f"n{i+1}") for i in range(4)]
    extra = [("n2", "parent", "m0"), ("m0", "parent", "m1")]
    tri = spark.createDataFrame(
        chain + extra, "subj string, pred string, obj string"
    )
    rules = [
        ([("?x", "parent", "?y")], [("?x", "anc", "?y")]),
        ([("?x", "anc", "?y"), ("?y", "anc", "?z")], [("?x", "anc", "?z")]),
    ]
    semi = {tuple(r) for r in apply_rules(tri, rules, rounds=3).collect()}
    # 3 rounds close the 4-edge chains: naive evaluation's fixpoint
    assert semi == _py_fixpoint(set(chain + extra), rules)
    # spot-check a branch fact derived via the frontier
    assert ("n0", "anc", "m1") in semi


def test_apply_rules_semi_naive_expands_sequence_paths(spark):
    """A sequence-path rule pattern (``p/q``) derives its two-hop facts:
    the rule check expands it into chained legs, each delta-sourced in
    turn, instead of compiling a literal predicate named "p/q" that
    silently derives nothing."""
    from nametag3_spark.operators.bgp import apply_rules

    tri = spark.createDataFrame(
        [("a", "p", "b"), ("b", "q", "c"), ("x", "p", "y"), ("y", "q", "z"),
         ("lone", "p", "dangling")],
        "subj string, pred string, obj string",
    )
    rules = [([("?s", "p/q", "?o")], [("?s", "pq", "?o")])]
    got = {
        tuple(r)
        for r in apply_rules(tri, rules, rounds=2).where("pred='pq'").collect()
    }
    assert got == {("a", "pq", "c"), ("x", "pq", "z")}


def test_semi_naive_rounds_sequence_path_incremental_frontier(spark):
    """The streaming caller invokes _semi_naive_rounds directly with an
    explicit (known, delta) frontier: a sequence-path rule must fire
    when only ONE hop of the sequence arrives in the delta."""
    from nametag3_spark.operators.bgp import _semi_naive_rounds

    known = spark.createDataFrame(
        [("a", "p", "b"), ("b", "q", "c")],
        "subj string, pred string, obj string",
    )
    delta = spark.createDataFrame(
        [("b", "q", "c")], "subj string, pred string, obj string"
    )
    rules = [([("?s", "p/q", "?o")], [("?s", "pq", "?o")])]
    _, new_facts = _semi_naive_rounds(known, delta, rules, rounds=1)
    assert {tuple(r) for r in new_facts.collect()} == {("a", "pq", "c")}


# one 9-fact input with a p-cycle, a p self-loop and q/r side edges
_CLOSURE_FACTS = [
    ("a", "p", "b"), ("b", "p", "c"), ("c", "p", "a"), ("c", "p", "d"),
    ("d", "q", "e"), ("b", "q", "f"), ("f", "r", "a"), ("e", "r", "d"),
    ("e", "p", "e"),
]
# rule sets holding a closure leg, alone, behind a sequence, over a
# derived predicate and mixed with delta-sourced closure-free rules
_CLOSURE_RULES = {
    "p+": [([("?x", "p+", "?y")], [("?x", "pp", "?y")])],
    "p*": [([("?x", "p*", "?y")], [("?x", "ps", "?y")])],
    "p?": [([("?x", "p?", "?y")], [("?x", "po", "?y")])],
    "p+/q": [([("?x", "p+/q", "?y")], [("?x", "pq", "?y")])],
    "(p|r)+/q": [([("?x", "(p|r)+/q", "?y")], [("?x", "prq", "?y")])],
    # d gains p edges in round 1 and q edges (through e) in round 2, so
    # round 3's d+ chains edges of both rounds
    "derived+": [
        ([("?x", "p", "?y")], [("?x", "d", "?y")]),
        ([("?x", "q", "?y")], [("?x", "e", "?y")]),
        ([("?x", "e", "?y")], [("?x", "d", "?y")]),
        ([("?x", "d+", "?y")], [("?x", "dd", "?y")]),
    ],
    "^anc+": [
        ([("?x", "p", "?y")], [("?x", "anc", "?y")]),
        ([("?x", "anc", "?y"), ("?y", "anc", "?z")], [("?x", "anc", "?z")]),
        ([("?x", "^anc+", "?y"), ("?y", "q", "?z")], [("?x", "up", "?z")]),
    ],
}


def _closure_golden(case: str) -> set[tuple[str, str, str]]:
    """The facts naive evaluation (every rule over the whole accumulated
    set, each round) derived for ``"<rule set>@<rounds>"`` on
    ``_CLOSURE_FACTS``; pinned in ``golden_closure_rules.json``."""
    import json
    from pathlib import Path

    path = Path(__file__).with_name("golden_closure_rules.json")
    return {tuple(t) for t in json.loads(path.read_text())[case]}


@pytest.mark.parametrize(
    "case", [f"{name}@{r}" for name in _CLOSURE_RULES for r in (1, 2, 3)]
)
def test_closure_rules_match_naive_goldens(spark, case):
    """One evaluator for every rule set: a rule holding a closure leg
    joins over the whole known set each round, so rounds 1-3 of every
    closure rule set derive exactly what naive evaluation did."""
    from nametag3_spark.operators.bgp import apply_rules

    name, rounds = case.split("@")
    tri = spark.createDataFrame(
        _CLOSURE_FACTS, "subj string, pred string, obj string"
    )
    got = {
        tuple(r)
        for r in apply_rules(tri, _CLOSURE_RULES[name], int(rounds)).collect()
    }
    assert got == set(_CLOSURE_FACTS) | _closure_golden(case)


def _py_bgp(triples, patterns):
    """Brute-force BGP matcher: nested-loop binding enumeration, bag
    semantics — the independent differential oracle."""
    results = [{}]
    for pat in patterns:
        nxt = []
        for b in results:
            for t in triples:
                bb = dict(b)
                ok = True
                for term, val in zip(pat, t):
                    if term.startswith("?"):
                        v = term[1:]
                        if bb.get(v, val) != val:
                            ok = False
                            break
                        bb[v] = val
                    elif term != val:
                        ok = False
                        break
                if ok:
                    nxt.append(bb)
        results = nxt
    return results


def _connected(patterns):
    varsets = [frozenset(t[1:] for t in p if t.startswith("?")) for p in patterns]
    if not varsets:
        return True
    bound, pending = varsets[0], list(varsets[1:])
    while pending:
        nxt = [v for v in pending if v & bound]
        if not nxt:
            return False
        bound = bound | nxt[0]
        pending.remove(nxt[0])
    return True


from hypothesis import given, settings
from hypothesis import strategies as st

_ENT = st.sampled_from(["a", "b", "c", "d"])
_PRED = st.sampled_from(["p", "q"])
_TRIPLE = st.tuples(_ENT, _PRED, _ENT)
_TERM_S = st.one_of(st.sampled_from(["?x", "?y", "?z"]), _ENT)
_TERM_P = st.one_of(st.sampled_from(["?u"]), _PRED)
_PATTERN = st.tuples(_TERM_S, _TERM_P, _TERM_S)


@given(
    triples=st.lists(_TRIPLE, min_size=1, max_size=10),
    patterns=st.lists(_PATTERN, min_size=1, max_size=3),
)
@settings(max_examples=15, deadline=None)
def test_bgp_differential_vs_bruteforce(spark, triples, patterns):
    from collections import Counter

    from hypothesis import assume

    from nametag3_spark.operators.bgp import bgp_query

    assume(_connected(patterns))
    # every pattern must bind at least one variable (all-literal legs
    # are existence filters the compiler rejects via empty-select)
    assume(all(any(t.startswith("?") for t in p) for p in patterns))
    # an RDF graph is a SET of triples: dedupe on both sides
    df = spark.createDataFrame(
        sorted(set(triples)), "subj string, pred string, obj string"
    )
    got = Counter(tuple(r) for r in bgp_query(df, list(patterns)).collect())
    vars_ = sorted(
        {t[1:] for p in patterns for t in p if t.startswith("?")}
    )
    want = Counter(
        tuple(b[v] for v in vars_) for b in _py_bgp(set(triples), patterns)
    )
    assert got == want


def test_apply_rules_materialized_rounds_equal_lazy(spark):
    """Every round is materialized: a ``p+`` rule at ``rounds=3`` returns
    a frame whose analyzed plan is a bounded handful of leaves (nesting
    each round's plan in the next grew it past what the optimizer could
    plan in a 4g heap), and its facts equal the goldens pinned from the
    lazy naive evaluator. The plan bound is asserted before anything
    is collected."""
    from nametag3_spark.operators.bgp import apply_rules

    tri = spark.createDataFrame(
        _CLOSURE_FACTS, "subj string, pred string, obj string"
    )
    out = apply_rules(tri, _CLOSURE_RULES["p+"], rounds=3)
    leaves = out._jdf.queryExecution().analyzed().collectLeaves().size()
    assert leaves <= 2, leaves
    got = {tuple(r) for r in out.collect()}
    assert got == set(_CLOSURE_FACTS) | _closure_golden("p+@3")


QUADS = [
    ("g1", "alice", "knows", "bob"),
    ("g1", "bob", "works_at", "acme"),
    ("g2", "alice", "knows", "carol"),
    ("g2", "bob", "works_at", "initech"),  # conflicting fact in g2
]


def _quads(spark):
    return spark.createDataFrame(
        QUADS, "graph string, subj string, pred string, obj string"
    )


def test_graph_default_is_union_of_graphs(spark):
    from nametag3_spark.operators.bgp import bgp_query

    got = {
        tuple(r) for r in bgp_query(_quads(spark), [("alice", "knows", "?x")]).collect()
    }
    assert got == {("bob",), ("carol",)}


def test_graph_literal_scopes_every_pattern(spark):
    from nametag3_spark.operators.bgp import bgp_query

    got = {
        tuple(r)
        for r in bgp_query(
            _quads(spark), [("bob", "works_at", "?w")], graph="g2"
        ).collect()
    }
    assert got == {("initech",)}


def test_graph_variable_binds_and_requires_same_graph(spark):
    from nametag3_spark.operators.bgp import bgp_query

    # both patterns must hold WITHIN one graph: only g1 has the pair
    rows = bgp_query(
        _quads(spark),
        [("alice", "knows", "?x"), ("?x", "works_at", "?w")],
        graph="?g",
    ).collect()
    assert {(r.g, r.x, r.w) for r in rows} == {("g1", "bob", "acme")}
    # cross-graph: alice knows carol in g2, carol works nowhere -> none
    # graph var is selectable like any var
    assert sorted(rows[0].__fields__) == ["g", "w", "x"]


def test_graph_variable_rejects_property_paths(spark):
    from nametag3_spark.operators.bgp import bgp_query

    with pytest.raises(ValueError, match="GRAPH"):
        bgp_query(_quads(spark), [("alice", "knows+", "?x")], graph="?g")
    # but a literal graph scope composes fine with paths
    got = {
        tuple(r)
        for r in bgp_query(
            _quads(spark), [("alice", "knows+", "?x")], graph="g1"
        ).collect()
    }
    assert got == {("bob",)}


def _py_fixpoint(facts, rules):
    """Pure-Python naive Datalog: apply every rule to a TRUE fixpoint
    (not round-bounded) — the semantic ground truth."""
    known = set(facts)
    while True:
        new = set()
        for patterns, template in rules:
            vars_ = sorted(
                {t[1:] for p in patterns for t in p if t.startswith("?")}
            )
            for b in _py_bgp(known, patterns):
                for tri in template:
                    out = tuple(
                        b[t[1:]] if t.startswith("?") else t for t in tri
                    )
                    if out not in known:
                        new.add(out)
        if not new:
            return known
        known |= new


@given(edges=st.lists(st.tuples(_ENT, _ENT), min_size=1, max_size=4))
@settings(max_examples=4, deadline=None)
def test_apply_rules_differential_vs_python_fixpoint(spark, edges):
    """The semi-naive evaluator vs a true (unbounded) Python fixpoint;
    closure rule sets are pinned against naive goldens separately."""
    from nametag3_spark.operators.bgp import apply_rules

    facts = sorted({(s, "p", o) for s, o in edges})
    rules = [
        ([("?x", "p", "?y")], [("?x", "anc", "?y")]),
        ([("?x", "anc", "?y"), ("?y", "anc", "?z")], [("?x", "anc", "?z")]),
    ]
    want = _py_fixpoint(set(facts), rules)
    df = spark.createDataFrame(facts, "subj string, pred string, obj string")
    # 3 rounds close chains of length 4 >= any simple path over the
    # <=4 distinct entities these edge lists can produce
    got = {
        tuple(r)
        for r in apply_rules(df, rules, rounds=3).collect()
    }
    assert got == want


def test_ask_and_describe(spark):
    from nametag3_spark.operators.bgp import ask, describe

    tri = _tri(spark)
    assert ask(tri, [("alice", "knows", "?x"), ("?x", "works_at", "acme")])
    assert not ask(tri, [("erin", "knows", "?x")])
    assert ask(tri, [("?x", "knows+", "erin")])  # path patterns compose
    with pytest.raises(ValueError, match="owns the 'select'"):
        ask(tri, [("?x", "knows", "?y")], select=["x"])

    got = {tuple(r) for r in describe(tri, "carol").collect()}
    assert got == {
        ("alice", "knows", "carol"),
        ("bob", "knows", "carol"),
        ("carol", "works_at", "acme"),
    }
    assert describe(tri, "nobody").count() == 0


def test_bucketed_triple_store_star_join_no_shuffle(spark, tmp_path):
    """A star BGP over the pred-partitioned, subj-bucketed store must
    join WITHOUT a shuffle exchange and prune to the patterns'
    predicate partitions."""
    import contextlib
    import io

    from nametag3_spark.operators.bgp import bgp_query
    from nametag3_spark.sources.triplestore import (
        read_triple_store,
        write_triple_store,
    )

    spark.sql("DROP TABLE IF EXISTS kg_store_test")
    write_triple_store(_tri(spark), "kg_store_test", n_buckets=4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the join path that bucketing exists for (at test scale
        # broadcast would otherwise win and mask a lost bucket spec)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        q = bgp_query(
            read_triple_store(spark, "kg_store_test"),
            [("?e", "knows", "?x"), ("?e", "works_at", "?w")],
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange hashpartitioning" not in plan  # bucket co-location
        assert "PartitionFilters" in plan and "knows" in plan  # pred pruning
        # and the results are still right
        got = {(r.e, r.x, r.w) for r in q.collect()}
        assert got == {
            ("alice", "bob", "globex"),
            ("alice", "carol", "globex"),
            ("bob", "carol", "acme"),
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS kg_store_test")


def test_bgp_union_bag_and_set(spark):
    from nametag3_spark.operators.bgp import bgp_union

    tri = _tri(spark)
    groups = [
        [("?e", "works_at", "acme")],
        [("alice", "knows", "?e")],
    ]
    bag = sorted(
        r.e for r in bgp_union(tri, groups, select=["e"]).collect()
    )
    # bob and carol match BOTH groups -> twice each in the bag
    assert bag == ["bob", "bob", "carol", "carol"]
    dedup = sorted(
        r.e
        for r in bgp_union(tri, groups, select=["e"], distinct=True).collect()
    )
    assert dedup == ["bob", "carol"]
    with pytest.raises(ValueError, match="at least two"):
        bgp_union(tri, [groups[0]], select=["e"])


def test_bgp_inverse_path(spark):
    from nametag3_spark.operators.bgp import bgp_query

    tri = _tri(spark)
    # ?x ^knows alice == alice knows ?x
    got = {tuple(r) for r in bgp_query(tri, [("?x", "^knows", "alice")]).collect()}
    assert got == {("bob",), ("carol",)}
    # inverse composes with one-or-more: ?x ^knows+ carol == carol
    # reaches ?x backwards along knows edges
    got = {tuple(r) for r in bgp_query(tri, [("carol", "^knows+", "?x")]).collect()}
    assert got == {("alice",), ("bob",)}


# ---- round-4 extensions: sequence/alternation paths, MINUS, FILTER ----


def test_bgp_sequence_path_rewrite(spark):
    """a/b chains through a fresh internal var; internal vars never
    appear in the default projection."""
    from nametag3_spark.operators.bgp import bgp_query

    tri = spark.createDataFrame(
        [("a", "knows", "b"), ("b", "likes", "c"), ("b", "knows", "d")],
        "subj string, pred string, obj string",
    )
    out = bgp_query(tri, [("?x", "knows/likes", "?y")])
    assert out.columns == ["x", "y"]
    assert [tuple(r) for r in out.collect()] == [("a", "c")]
    # segments compose with inverse steps
    out2 = bgp_query(tri, [("?x", "knows/^knows", "?y")])
    assert sorted(tuple(r) for r in out2.collect()) == [("a", "a"), ("b", "b")]


def test_bgp_alternation_path_single_scan(spark):
    """a|b is ONE scan with an In-list predicate — assert both the
    semantics and the plan shape (no Union node)."""
    from nametag3_spark.operators.bgp import bgp_query

    tri = spark.createDataFrame(
        [("a", "knows", "b"), ("b", "likes", "c"), ("c", "hates", "d")],
        "subj string, pred string, obj string",
    )
    out = bgp_query(tri, [("?x", "knows|likes", "?y")])
    assert sorted(tuple(r) for r in out.collect()) == [("a", "b"), ("b", "c")]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan  # one In-list scan, not a union of scans
    assert " IN (knows,likes)" in plan
    with pytest.raises(ValueError, match="alternation"):
        bgp_query(tri, [("?x", "knows|likes+", "?y")]).collect()


def test_bgp_minus_semantics(spark):
    """MINUS anti-joins on shared vars; a disjoint MINUS group removes
    NOTHING (SPARQL compatibility semantics), unlike NOT EXISTS which
    raises on a disjoint witness."""
    from nametag3_spark.operators.bgp import bgp_query

    tri = spark.createDataFrame(
        [
            ("a", "type", "person"),
            ("b", "type", "person"),
            ("a", "knows", "b"),
            ("z", "likes", "q"),
        ],
        "subj string, pred string, obj string",
    )
    out = bgp_query(tri, [("?x", "type", "person")], minus=[[("?x", "knows", "b")]])
    assert [tuple(r) for r in out.collect()] == [("b",)]
    out2 = bgp_query(tri, [("?x", "type", "person")], minus=[[("?z", "likes", "q")]])
    assert sorted(tuple(r) for r in out2.collect()) == [("a",), ("b",)]


def test_bgp_filter_expressions(spark):
    """Comparisons, numeric casts (try_cast: non-numeric drops, never
    throws under ANSI), var-var, string predicates, and error
    contracts."""
    from nametag3_spark.operators.bgp import bgp_query

    tri = spark.createDataFrame(
        [
            ("a", "age", "30"),
            ("b", "age", "7"),
            ("c", "age", "notanumber"),
            ("a", "name", "Alice"),
            ("b", "name", "Bob"),
        ],
        "subj string, pred string, obj string",
    )
    num = bgp_query(tri, [("?x", "age", "?a")], filters=[(">", "?a", 10)])
    assert [tuple(r) for r in num.collect()] == [("30", "a")]
    vv = bgp_query(
        tri,
        [("?x", "age", "?a"), ("?x", "name", "?m")],
        filters=[("!=", "?m", "Bob")],
        select=["x"],
    )
    assert [tuple(r) for r in vv.collect()] == [("a",)]
    ss = bgp_query(tri, [("?x", "name", "?m")], filters=[("strstarts", "?m", "Al")])
    assert [tuple(r) for r in ss.collect()] == [("Alice", "a")]
    rx = bgp_query(tri, [("?x", "name", "?m")], filters=[("regex", "?m", "^B.b$")])
    assert [tuple(r) for r in rx.collect()] == [("Bob", "b")]
    with pytest.raises(ValueError, match="not bound"):
        bgp_query(tri, [("?x", "age", "?a")], filters=[(">", "?zz", 1)])
    with pytest.raises(ValueError, match="operator"):
        bgp_query(tri, [("?x", "age", "?a")], filters=[("~", "?a", 1)])


def test_bgp_aggregate(spark):
    """GROUP BY aggregation over a BGP: count/sum/min semantics incl.
    the SPARQL silent-error rule (non-numeric bindings ignored by
    SUM/AVG) and OPTIONAL-aware COUNT(?v) vs COUNT(*)."""
    from nametag3_spark.operators.bgp import bgp_aggregate

    tri = spark.createDataFrame(
        [
            ("a", "type", "p"),
            ("b", "type", "p"),
            ("c", "type", "q"),
            ("a", "score", "10"),
            ("b", "score", "oops"),
        ],
        "subj string, pred string, obj string",
    )
    out = bgp_aggregate(
        tri,
        [("?x", "type", "?t")],
        group_by=["t"],
        aggs=[("count", "*", "n"), ("min", "?x", "first")],
    )
    assert sorted(tuple(r) for r in out.collect()) == [("p", 2, "a"), ("q", 1, "c")]
    # COUNT(?s) skips NULL optional bindings; SUM ignores non-numerics
    opt = bgp_aggregate(
        tri,
        [("?x", "type", "?t")],
        group_by=["t"],
        aggs=[("count", "?s", "n_scored"), ("sum", "?s", "total")],
        optional=[[("?x", "score", "?s")]],
    )
    assert sorted(tuple(r) for r in opt.collect()) == [
        ("p", 2, 10.0),
        ("q", 0, None),
    ]
    # empty group_by = one global row
    glob = bgp_aggregate(
        tri, [("?x", "type", "?t")], group_by=[],
        aggs=[("count_distinct", "?t", "kinds")],
    )
    assert [tuple(r) for r in glob.collect()] == [(2,)]
    with pytest.raises(ValueError, match="unsupported aggregate"):
        bgp_aggregate(tri, [("?x", "type", "?t")], group_by=[],
                      aggs=[("median", "?t", "m")])
    with pytest.raises(ValueError, match="count"):
        bgp_aggregate(tri, [("?x", "type", "?t")], group_by=[],
                      aggs=[("sum", "*", "s")])


def test_bgp_zero_or_more_path(spark):
    """p* = strict closure + reflexive rows over ALL graph terms
    (SPARQL zero-length-path semantics): a term with no p-edges still
    matches itself."""
    from nametag3_spark.operators.bgp import bgp_query

    tri = spark.createDataFrame(
        [("a", "sub", "b"), ("b", "sub", "c"), ("x", "other", "y")],
        "subj string, pred string, obj string",
    )
    got = sorted(tuple(r) for r in bgp_query(tri, [("?x", "sub*", "?y")]).collect())
    assert got == [
        ("a", "a"), ("a", "b"), ("a", "c"),
        ("b", "b"), ("b", "c"), ("c", "c"),
        ("x", "x"), ("y", "y"),
    ]
    # zero-length match for a term with NO sub edges at all
    z = bgp_query(tri, [("y", "sub*", "?z")])
    assert [tuple(r) for r in z.collect()] == [("y",)]
    # star is rejected inside alternation like +
    with pytest.raises(ValueError, match="alternation"):
        bgp_query(tri, [("?x", "sub*|other", "?y")]).collect()


def test_bgp_closure_over_alternation(spark):
    """(a|b)+ closes the UNION of both predicates' edge sets — the
    skos broader|narrower traversal shape; * adds reflexive rows."""
    from nametag3_spark.operators.bgp import bgp_query

    tri = spark.createDataFrame(
        [
            ("a", "broader", "b"),
            ("b", "narrower", "c"),
            ("c", "broader", "d"),
        ],
        "subj string, pred string, obj string",
    )
    got = sorted(
        tuple(r)
        for r in bgp_query(tri, [("a", "(broader|narrower)+", "?y")]).collect()
    )
    assert got == [("b",), ("c",), ("d",)]
    # bare a|b+ is ambiguous (SPARQL reads it a|(b+)) and must raise
    with pytest.raises(ValueError, match="parenthesize"):
        bgp_query(tri, [("a", "broader|narrower+", "?y")])
    star = sorted(
        tuple(r)
        for r in bgp_query(tri, [("a", "(broader|narrower)*", "?y")]).collect()
    )
    assert star == [("a",), ("b",), ("c",), ("d",)]


def test_bgp_aggregate_sample_and_group_concat(spark):
    from nametag3_spark.operators.bgp import bgp_aggregate

    tri = spark.createDataFrame(
        [("b", "type", "p"), ("a", "type", "p"), ("c", "type", "q")],
        "subj string, pred string, obj string",
    )
    out = bgp_aggregate(
        tri,
        [("?x", "type", "?t")],
        group_by=["t"],
        aggs=[("sample", "?x", "one"), ("group_concat", "?x", "members")],
    )
    # deterministic: sample = binary-collation min, concat sorted
    assert sorted(tuple(r) for r in out.collect()) == [
        ("p", "a", "a,b"),
        ("q", "c", "c"),
    ]


def test_bgp_bind_expressions(spark):
    """BIND: computed bindings over the expression language, usable
    by later FILTERs and the projection."""
    from nametag3_spark.operators.bgp import bgp_query

    tri = spark.createDataFrame(
        [("a", "age", "30"), ("b", "age", "7"), ("a", "name", "Alice")],
        "subj string, pred string, obj string",
    )
    out = bgp_query(
        tri,
        [("?x", "age", "?a")],
        binds=[(("concat", "?x", ":", "?a"), "label")],
        select=["label"],
    )
    assert sorted(tuple(r) for r in out.collect()) == [("a:30",), ("b:7",)]
    # arithmetic + a FILTER referencing the alias
    out2 = bgp_query(
        tri,
        [("?x", "age", "?a")],
        binds=[(("+", "?a", 1), "next")],
        filters=[(">", "?next", 10)],
        select=["x", "next"],
    )
    assert [tuple(r) for r in out2.collect()] == [("a", 31.0)]
    with pytest.raises(ValueError, match="already bound"):
        bgp_query(tri, [("?x", "age", "?a")], binds=[(1, "a")])
    with pytest.raises(ValueError, match="not bound"):
        bgp_query(tri, [("?x", "age", "?a")], binds=[(("ucase", "?zz"), "u")])


# generated FILTER trees over two variable slots (?0, ?1 — mapped onto
# the pattern's variables): numeric comparisons over + - * / and STRLEN,
# string comparisons, composed with && || !
_SLOT = st.sampled_from(["?0", "?1"])
_NUM_EXPR = st.recursive(
    st.one_of(
        _SLOT,
        st.sampled_from([0, 2, 7.5]),
        st.builds(lambda v: ("strlen", v), _SLOT),
    ),
    lambda kids: st.tuples(st.sampled_from(["+", "-", "*", "/"]), kids, kids),
    max_leaves=4,
)
_CMP_OP = st.sampled_from(["<", ">", "=", "!="])
_FILTER_TREE = st.recursive(
    st.one_of(
        st.tuples(_CMP_OP, _NUM_EXPR, _NUM_EXPR),
        st.tuples(_CMP_OP, _SLOT, st.one_of(_SLOT, st.sampled_from(["a", "b"]))),
    ),
    lambda kids: st.one_of(
        st.tuples(st.just("not"), kids),
        st.builds(
            lambda op, xs: (op, *xs),
            st.sampled_from(["and", "or"]),
            st.lists(kids, min_size=2, max_size=3),
        ),
    ),
    max_leaves=4,
)
_NUMERIC_OPS = ("+", "-", "*", "/", "strlen")


def _py_num(v):
    """A double try_cast: None for a non-numeric value."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _py_eval(e, binding):
    """Reference evaluation of an expression node over one binding, with
    None for an error (SPARQL's type error; Spark's NULL)."""
    if isinstance(e, str):
        return binding[e[1:]] if e.startswith("?") else e
    if not isinstance(e, tuple):
        return e
    op, *args = e
    vals = [_py_eval(a, binding) for a in args]
    if op == "not":
        return None if vals[0] is None else not vals[0]
    if op in ("and", "or"):
        decides = op == "or"  # or: any True decides; and: any False
        if decides in vals:
            return decides
        return None if None in vals else not decides
    if op == "strlen":
        return len(vals[0])
    if op in ("+", "-", "*", "/"):
        x, y = map(_py_num, vals)
        if x is None or y is None or (op == "/" and y == 0):
            return None
        return {
            "+": operator.add,
            "-": operator.sub,
            "*": operator.mul,
            "/": operator.truediv,
        }[op](x, y)
    # a comparison: numeric when either operand is a number or a
    # numeric node, else a string comparison (binary collation)
    if any(
        not isinstance(a, str) and (not isinstance(a, tuple) or a[0] in _NUMERIC_OPS)
        for a in args
    ):
        vals = list(map(_py_num, vals))
    x, y = vals
    if x is None or y is None:
        return None
    return {"<": x < y, ">": x > y, "=": x == y, "!=": x != y}[op]


def _fill_slots(e, vars_):
    if isinstance(e, tuple):
        return (e[0], *(_fill_slots(a, vars_) for a in e[1:]))
    if isinstance(e, str) and e.startswith("?"):
        return "?" + vars_[int(e[1:]) % len(vars_)]
    return e


@given(
    triples=st.lists(
        st.tuples(_ENT, _PRED, st.sampled_from(["a", "b", "c", "7", "12", "0.5"])),
        min_size=1,
        max_size=8,
    ),
    patterns=st.lists(_PATTERN, min_size=1, max_size=2),
    minus_pat=_PATTERN,
    tree=_FILTER_TREE,
)
@settings(max_examples=15, deadline=None)
def test_bgp_minus_filter_differential(spark, triples, patterns, minus_pat, tree):
    """MINUS + a generated FILTER tree vs an independent Python
    evaluation: MINUS drops bindings compatible on the shared vars
    (no-op when disjoint); the FILTER keeps a row only when its tree is
    true under SPARQL's three-valued logic (a non-numeric operand of
    arithmetic or a numeric comparison, or a zero divisor, is an
    error); string comparisons follow binary collation on both
    sides."""
    from collections import Counter

    from hypothesis import assume

    from nametag3_spark.operators.bgp import bgp_query

    assume(_connected(patterns))
    assume(all(any(t.startswith("?") for t in p) for p in patterns))
    assume(any(t.startswith("?") for t in minus_pat))
    tset = sorted(set(triples))
    df = spark.createDataFrame(tset, "subj string, pred string, obj string")

    vars_ = sorted({t[1:] for p in patterns for t in p if t.startswith("?")})
    flt = _fill_slots(tree, vars_)

    base = _py_bgp(set(tset), patterns)
    mvars = {t[1:] for t in minus_pat if t.startswith("?")}
    shared = sorted(mvars & set(vars_))
    if shared:
        mproj = {
            tuple(b[v] for v in shared)
            for b in _py_bgp(set(tset), [minus_pat])
        }
        base = [b for b in base if tuple(b[v] for v in shared) not in mproj]
    want = Counter(
        tuple(b[v] for v in vars_) for b in base if _py_eval(flt, b) is True
    )

    got = Counter(
        tuple(r)
        for r in bgp_query(
            df,
            list(patterns),
            minus=[[minus_pat]],
            filters=[flt],
            select=vars_,
        ).collect()
    )
    assert got == want


def test_bgp_stats_driven_join_order(spark):
    """pred_stats switches seeding to estimated cardinalities; results
    are identical either way (ordering is a physical choice), and the
    cost model ranks legs correctly."""
    from nametag3_spark.operators.bgp import _estimate_leg_costs, bgp_query

    tri = spark.createDataFrame(
        [
            ("a", "common", "b"),
            ("b", "common", "c"),
            ("c", "common", "d"),
            ("b", "rare", "z"),
        ],
        "subj string, pred string, obj string",
    )
    stats = {"common": 1_000_000, "rare": 3}
    pats = [("?x", "common", "?y"), ("?y", "rare", "?z")]
    costs = _estimate_leg_costs(pats, stats)
    assert costs[1] < costs[0]  # the rare leg seeds the chain
    with_stats = sorted(
        tuple(r) for r in bgp_query(tri, pats, pred_stats=stats).collect()
    )
    without = sorted(tuple(r) for r in bgp_query(tri, pats).collect())
    assert with_stats == without == [("a", "b", "z")]
    # model details: literal-term selectivity, var pred, closure,
    # alternation, unknown predicate
    got = _estimate_leg_costs(
        [
            ("a", "common", "?y"),
            ("?x", "?p", "?y"),
            ("?x", "(a|b)+", "?y"),
            ("?x", "missing", "?y"),
            ("?x", "a|a", "?y"),
        ],
        {"common": 100, "a": 10, "b": 20},
    )
    assert got[0] == pytest.approx(10.05)   # (100+0.5) * 0.1
    assert got[1] == pytest.approx(130.0)   # whole store
    assert got[2] == pytest.approx(62.0)    # (10.5+20.5) * 2 closure
    assert got[3] == pytest.approx(0.5)     # unknown pred ~ empty
    assert got[4] == pytest.approx(10.5)    # a repeated name counts once


def test_bgp_negated_property_set(spark):
    """!p / !(a|b): one NOT-IN scan over the excluded edge labels."""
    from nametag3_spark.operators.bgp import _estimate_leg_costs, bgp_query

    tri = spark.createDataFrame(
        [("a", "p", "b"), ("a", "q", "c"), ("a", "r", "d")],
        "subj string, pred string, obj string",
    )
    got = sorted(tuple(r) for r in bgp_query(tri, [("a", "!p", "?y")]).collect())
    assert got == [("c",), ("d",)]
    got2 = sorted(
        tuple(r) for r in bgp_query(tri, [("a", "!(p|q)", "?y")]).collect()
    )
    assert got2 == [("d",)]
    with pytest.raises(ValueError, match="cannot be closed"):
        bgp_query(tri, [("a", "!(p|q)+", "?y")])
    # cost model: total minus excluded mass, literal-term selectivity
    c = _estimate_leg_costs([("a", "!(p|q)", "?y")], {"p": 50, "q": 30, "r": 20})
    assert c[0] == pytest.approx(2.0)  # (100 - 80) * 0.1


def test_inverse_negated_set_costs_like_its_forward_twin():
    """``^!p`` matches as many rows as ``!p``: the cost model strips
    the inverse before it reads the negation."""
    from nametag3_spark.operators.bgp import _estimate_leg_costs

    stats = {"p": 1000, "q": 5}
    fwd, inv, fwd2, inv2 = _estimate_leg_costs(
        [("?x", "!p", "?y"), ("?x", "^!p", "?y"),
         ("?x", "!(p|q)", "?y"), ("?x", "^!(p|q)", "?y")],
        stats,
    )
    assert fwd == pytest.approx(5.0) and inv == pytest.approx(fwd)
    assert fwd2 == pytest.approx(0.5) and inv2 == pytest.approx(fwd2)


@given(
    triples=st.lists(_TRIPLE, min_size=1, max_size=8),
    patterns=st.lists(_PATTERN, min_size=1, max_size=2),
    opt_pat=_PATTERN,
)
@settings(max_examples=10, deadline=None)
def test_bgp_optional_differential(spark, triples, patterns, opt_pat):
    """OPTIONAL vs an independent Python left-join evaluation: every
    base binding survives; matching optional witnesses multiply it
    (bag semantics); non-matching rows carry NULL for optional-only
    vars."""
    from collections import Counter

    from hypothesis import assume

    from nametag3_spark.operators.bgp import bgp_query

    assume(_connected(patterns))
    assume(all(any(t.startswith("?") for t in p) for p in patterns))
    base_vars = sorted({t[1:] for p in patterns for t in p if t.startswith("?")})
    ovars = {t[1:] for t in opt_pat if t.startswith("?")}
    assume(ovars & set(base_vars))  # engine requires a shared var
    assume(any(t.startswith("?") for t in opt_pat))
    tset = sorted(set(triples))
    df = spark.createDataFrame(tset, "subj string, pred string, obj string")

    all_vars = sorted(set(base_vars) | ovars)
    base = _py_bgp(set(tset), patterns)
    omatches = _py_bgp(set(tset), [opt_pat])
    want = Counter()
    for b in base:
        compat = [
            m
            for m in omatches
            if all(b.get(v, m[v]) == m[v] for v in ovars if v in b)
        ]
        if compat:
            for m in compat:
                merged = {**b, **m}
                want[tuple(merged[v] for v in all_vars)] += 1
        else:
            merged = {**{v: None for v in ovars}, **b}
            want[tuple(merged.get(v) for v in all_vars)] += 1

    got = Counter(
        tuple(r)
        for r in bgp_query(
            df, list(patterns), optional=[[opt_pat]], select=all_vars
        ).collect()
    )
    assert got == want


def test_bgp_angle_quoted_and_bare_iri_predicates(spark):
    """Engine-level <...> quoting: IRI predicates (which contain the
    path operator characters / and |) stay atomic — bracketed, bare
    (the ://-convenience), inside alternations, and under closure."""
    from nametag3_spark.operators.bgp import bgp_query

    tri = spark.createDataFrame(
        [
            ("a", "http://kg/knows", "b"),
            ("b", "http://kg/likes", "c"),
        ],
        "subj string, pred string, obj string",
    )
    assert [
        tuple(r)
        for r in bgp_query(tri, [("a", "http://kg/knows", "?y")]).collect()
    ] == [("b",)]
    assert [
        tuple(r)
        for r in bgp_query(tri, [("a", "<http://kg/knows>", "?y")]).collect()
    ] == [("b",)]
    alt = bgp_query(
        tri, [("?x", "<http://kg/knows>|<http://kg/likes>", "?y")]
    )
    assert sorted(tuple(r) for r in alt.collect()) == [("a", "b"), ("b", "c")]
    clo = bgp_query(
        tri, [("a", "(<http://kg/knows>|<http://kg/likes>)+", "?y")]
    )
    assert sorted(tuple(r) for r in clo.collect()) == [("b",), ("c",)]
    seq = bgp_query(
        tri, [("a", "<http://kg/knows>/<http://kg/likes>", "?y")]
    )
    assert [tuple(r) for r in seq.collect()] == [("c",)]


def test_bgp_zero_or_one_path(spark):
    from nametag3_spark.operators.bgp import bgp_query

    tri = spark.createDataFrame(
        [("a", "r", "b"), ("b", "r", "c"), ("d", "r", "d")],
        "subj string, pred string, obj string",
    )
    got = {
        tuple(r) for r in bgp_query(tri, [("?x", "r?", "?y")]).collect()
    }
    # direct edges (strict) + one reflexive row per graph term; the
    # self-loop d-r-d must NOT double-count with its reflexive row
    assert got == {
        ("a", "b"), ("b", "c"),
        ("a", "a"), ("b", "b"), ("c", "c"), ("d", "d"),
    }
    rows = bgp_query(tri, [("?x", "r?", "?y")]).collect()
    assert len(rows) == 6  # set semantics: no duplicate (d, d)
    # literal subject restricts after the reflexive union
    got = {
        tuple(r) for r in bgp_query(tri, [("a", "r?", "?y")]).collect()
    }
    assert got == {("a",), ("b",)}
    # alternation parts may not carry ? (nested operator)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="plain predicates only"):
        bgp_query(tri, [("?x", "r?|s", "?y")]).collect()


def test_apply_rules_semi_naive_group_sequence_parity(spark):
    """A GROUP-sequence rule pattern (``(p|r)/q``) derives what naive
    evaluation does — the paren-aware sequence split chains the group's
    In-list leg through the fresh internal variable, and per-leg delta
    sourcing covers both rewritten legs."""
    from nametag3_spark.operators.bgp import apply_rules

    tri = spark.createDataFrame(
        [("a", "p", "b"), ("m", "r", "b"), ("b", "q", "c"),
         ("x", "p", "y"), ("y", "q", "z"), ("lone", "r", "dangling")],
        "subj string, pred string, obj string",
    )
    rules = [([("?s", "(p|r)/q", "?o")], [("?s", "pq", "?o")])]
    got = {
        tuple(r)
        for r in apply_rules(tri, rules, rounds=2).where("pred='pq'").collect()
    }
    assert got == {("a", "pq", "c"), ("m", "pq", "c"), ("x", "pq", "z")}


def test_graph_variable_with_alternation_and_negated_sets(spark):
    """Per-edge pattern kinds bind the GRAPH variable: alternation
    (a|b), negated sets !(…), and sequences chaining them stay within
    one graph per binding; closures remain rejected."""
    from nametag3_spark.operators.bgp import bgp_query

    quads = spark.createDataFrame(
        [
            ("g1", "a", "p", "b"), ("g1", "b", "q", "c"),
            ("g2", "a", "p", "b2"), ("g2", "b2", "r", "c2"),
            # cross-graph chain that must NOT match: p edge in g1,
            # q edge only in g2
            ("g2", "b", "q", "x"),
        ],
        "graph string, subj string, pred string, obj string",
    )
    got = {
        tuple(r)
        for r in bgp_query(
            quads, [("?s", "p|missing", "?o")], graph="?g",
            select=["g", "s", "o"],
        ).collect()
    }
    assert got == {("g1", "a", "b"), ("g2", "a", "b2")}
    # negated set binds the graph too
    got = {
        tuple(r)
        for r in bgp_query(
            quads, [("?s", "!(p)", "?o")], graph="?g", select=["g", "s"]
        ).collect()
    }
    assert got == {("g1", "b"), ("g2", "b2"), ("g2", "b")}
    # sequence with a group segment: same-graph chaining only — the
    # g1 p-edge must not chain into g2's q-edge
    got = {
        tuple(r)
        for r in bgp_query(
            quads, [("?s", "(p|z)/(q|r)", "?o")], graph="?g",
            select=["g", "s", "o"],
        ).collect()
    }
    assert got == {("g1", "a", "c"), ("g2", "a", "c2")}
    # closures stay rejected under a graph variable
    import pytest as _pytest

    with _pytest.raises(ValueError, match="GRAPH"):
        bgp_query(quads, [("?s", "p+", "?o")], graph="?g", select=["s"])


def test_split_path_seq_units():
    """Pure-Python contract of the paren+angle-aware sequence split:
    slashes inside <IRI> quoting and (group) parens never split."""
    from nametag3_spark.operators.bgp import _split_top

    def _split_path_seq(term):
        return _split_top(term, "/")

    assert _split_path_seq("a/b/c") == ["a", "b", "c"]
    assert _split_path_seq("(a|b)/c") == ["(a|b)", "c"]
    assert _split_path_seq("a/(b|c)+") == ["a", "(b|c)+"]
    assert _split_path_seq("(a/b)") == ["(a/b)"]
    assert _split_path_seq("<http://x/y>/p") == ["<http://x/y>", "p"]
    assert _split_path_seq("(<http://x/y>|q)/r") == ["(<http://x/y>|q)", "r"]
    assert _split_path_seq("^(a|b)/c") == ["^(a|b)", "c"]
    assert _split_path_seq("plain") == ["plain"]


# one triple per (subj, obj) pair, so every per-edge leg is a set
_STEP_TRIPLES = [
    ("n1", "p", "n2"),
    ("n2", "p", "n3"),
    ("n3", "a", "n1"),
    ("n1", "b", "n4"),
    ("n4", "q", "n4"),
    ("n2", "http://x.org/p+", "n5"),
    ("n5", "http://x.org/p", "n1"),
    ("n3", "http://a.org/p|q", "n6"),
    ("n6", "http://x/y", "n2"),
    ("n4", "http://x/(y)", "n6"),
    ("n6", "http://x/(y)", "n5"),
]

# predicate form -> the step it means: (inverse, negated, closure,
# names, pred — the term a plain pattern matches at its pred position)
_STEP_FORMS = {
    "p": (False, False, "", ("p",), "p"),
    "?v": (False, False, "", (), "?v"),
    "<http://x/y>": (False, False, "", ("http://x/y",), "http://x/y"),
    "http://x/y": (False, False, "", ("http://x/y",), "http://x/y"),
    "^p": (True, False, "", ("p",), "p"),
    "!p": (False, True, "", ("p",), None),
    "!(a|b)": (False, True, "", ("a", "b"), None),
    "^!p": (True, True, "", ("p",), None),
    "a|b": (False, False, "", ("a", "b"), None),
    "(a|b)": (False, False, "", ("a", "b"), None),
    # a branch that is a group of names flattens into the set
    "(a)|(b)": (False, False, "", ("a", "b"), None),
    "(a|b)|q": (False, False, "", ("a", "b", "q"), None),
    "p|(a|b)": (False, False, "", ("p", "a", "b"), None),
    "(p|(a|b))": (False, False, "", ("p", "a", "b"), None),
    # a repeated name counts once, in first-seen order
    "(a|b)|a": (False, False, "", ("a", "b"), None),
    "((a)|(b))+": (False, False, "+", ("a", "b"), None),
    "p+": (False, False, "+", ("p",), None),
    "p*": (False, False, "*", ("p",), None),
    "p?": (False, False, "?", ("p",), None),
    "(a|b)+": (False, False, "+", ("a", "b"), None),
    "^(a|b)+": (True, False, "+", ("a", "b"), None),
    # bare IRIs are atomic: their + and | are data, not path syntax
    "http://x.org/p+": (
        False, False, "", ("http://x.org/p+",), "http://x.org/p+"
    ),
    "http://a.org/p|q": (
        False, False, "", ("http://a.org/p|q",), "http://a.org/p|q"
    ),
    # so are an <iri>'s parens, closed or not
    "<http://x/(y)>": (False, False, "", ("http://x/(y)",), "http://x/(y)"),
    "<http://x/(y)>+": (False, False, "+", ("http://x/(y)",), None),
    "^<http://x/(y)>*": (True, False, "*", ("http://x/(y)",), None),
}


def _step_rows(step, triples):
    """Reference evaluation of one parsed step: its (x, y) rows."""
    inverse, negated, closure, names, _pred = step
    edges = {
        (s, o) for s, p, o in triples if (not names or p in names) != negated
    }
    if closure in ("+", "*"):
        while True:
            more = {(s, o2) for s, o in edges for o1, o2 in edges if o == o1}
            if more <= edges:
                break
            edges |= more
        if closure == "*":
            edges = {(s, o) for s, o in edges if s != o}
    if closure in ("*", "?"):
        terms = {t for s, _p, o in triples for t in (s, o)}
        edges = {(s, o) for s, o in edges if s != o} | {(t, t) for t in terms}
    return sorted((o, s) if inverse else (s, o) for s, o in edges)


def _step_cost(step, stats):
    """The cost model's formula over one parsed step."""
    _inverse, negated, closure, names, _pred = step
    if not names:  # a variable predicate: the whole store
        return sum(stats.values())
    if negated:
        return max(sum(stats.values()) - sum(stats.get(a, 0) for a in names), 0.5)
    c = sum(stats.get(a, 0) + 0.5 for a in names)
    return c * 2 if closure else c


@pytest.mark.parametrize("form", sorted(_STEP_FORMS))
def test_every_reader_follows_the_parsed_step(spark, form):
    """One table over every predicate form: the parser's step, the
    compiled rows, the cost estimate, the semi-naive rule check and
    the GRAPH-variable check all agree — a closure is costed, marked
    closed by the rule check and rejected under ``graph="?g"`` exactly
    when the compiler closes it."""
    from nametag3_spark.operators.bgp import (
        _estimate_leg_costs,
        _path_step,
        _semi_naive_rules,
        bgp_query,
    )

    step = _STEP_FORMS[form]
    assert tuple(_path_step(form)) == step
    tri = spark.createDataFrame(
        _STEP_TRIPLES, "subj string, pred string, obj string"
    )
    got = bgp_query(tri, [("?x", form, "?y")], select=["x", "y"]).collect()
    assert sorted(map(tuple, got)) == _step_rows(step, _STEP_TRIPLES)
    stats = {}
    for _s, p, _o in _STEP_TRIPLES:
        stats[p] = stats.get(p, 0) + 1
    (cost,) = _estimate_leg_costs([("?x", form, "?y")], stats)
    assert cost == pytest.approx(_step_cost(step, stats))
    rule = [([("?x", form, "?y")], [("?x", "out", "?y")])]
    assert _semi_naive_rules(rule) == [(*rule[0], bool(step[2]))]
    quads = spark.createDataFrame(
        [(f"g{i % 2}", *t) for i, t in enumerate(_STEP_TRIPLES)],
        "graph string, subj string, pred string, obj string",
    )
    if step[2]:
        with pytest.raises(ValueError, match="GRAPH"):
            bgp_query(quads, [("?x", form, "?y")], graph="?g")
        return
    got = bgp_query(
        quads, [("?x", form, "?y")], graph="?g", select=["g", "x", "y"]
    ).collect()
    want = [
        (g, x, y)
        for g in ("g0", "g1")
        for x, y in _step_rows(
            step,
            [t for i, t in enumerate(_STEP_TRIPLES) if f"g{i % 2}" == g],
        )
    ]
    assert sorted(map(tuple, got)) == want


@pytest.mark.parametrize(
    "form", ["(a|(b|(c|d)))", "a|b)", "(a|b", "(((a|b)))", "(a)(b)"]
)
def test_malformed_path_groups_raise(spark, form):
    """A group nested past one alternation branch or an unmatched paren
    raises instead of compiling an odd predicate set — through the
    programmatic API and through quoted text-form SPARQL."""
    from nametag3_spark.operators.bgp import _path_step, bgp_query
    from nametag3_spark.operators.sparql import execute

    with pytest.raises(ValueError, match="nested|unmatched"):
        _path_step(form)
    tri = spark.createDataFrame(
        [("a", "b", "c")], "subj string, pred string, obj string"
    )
    with pytest.raises(ValueError, match="nested|unmatched"):
        bgp_query(tri, [("?x", form, "?y")])
    with pytest.raises(ValueError, match="nested|unmatched"):
        execute(tri, f"SELECT ?x ?y WHERE {{ ?x '{form}' ?y }}")


# a grouped alternation branch -> the ungrouped form it compiles as
_GROUPED_BRANCHES = {
    "(a)|(b)|(c)": "a|b|c",
    "(a|b)|c": "a|b|c",
    "a|(b|c)": "a|b|c",
    "(a|(b|c))": "a|b|c",
    "((a|b))": "a|b",
    "((a)|(b))+": "(a|b)+",
    "!((a)|(b))": "!(a|b)",
}


@pytest.mark.parametrize("form", sorted(_GROUPED_BRANCHES))
def test_grouped_alternation_branches_flatten(spark, form):
    """SPARQL 1.1 groups alternation branches freely: a branch that is a
    group of names flattens into the In-list, so each form parses to
    the step of its ungrouped twin and matches the same rows, through
    the programmatic API and quoted text-form SPARQL."""
    from nametag3_spark.operators.bgp import _path_step, bgp_query
    from nametag3_spark.operators.sparql import execute

    twin = _GROUPED_BRANCHES[form]
    assert _path_step(form) == _path_step(twin)
    tri = spark.createDataFrame(
        [("n1", "a", "n2"), ("n2", "b", "n3"), ("n3", "c", "n1"),
         ("n1", "d", "n3")],
        "subj string, pred string, obj string",
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    want = rows(bgp_query(tri, [("?x", twin, "?y")]))
    assert want
    assert rows(bgp_query(tri, [("?x", form, "?y")])) == want
    sparql = f"SELECT ?x ?y WHERE {{ ?x '{form}' ?y }}"
    assert rows(execute(tri, sparql)) == want


@pytest.mark.parametrize("form", ["(a+)|(b)", "(^a)|b", "(a/b)|c"])
def test_grouped_branch_with_operator_raises(form):
    """Only names flatten: a grouped branch carrying a path operator
    raises, as the same branch does ungrouped."""
    from nametag3_spark.operators.bgp import _path_step

    with pytest.raises(ValueError, match="plain predicates only"):
        _path_step(form)


def test_one_path_parser_source():
    """The compiler, the cost model and the semi-naive rule check read
    predicate terms only through ``_path_step``: none of them scans the
    path syntax itself, and the deleted second readers stay gone."""
    import inspect

    from nametag3_spark.operators import bgp

    for fn in (
        bgp._compile_legs, bgp._estimate_leg_costs, bgp._semi_naive_rules
    ):
        src = inspect.getsource(fn)
        assert "_path_step(" in src
        for scan in ('endswith(("+", "*", "?"))', 'startswith("!")',
                     '"|" in'):
            assert scan not in src, (fn.__name__, scan)
    for gone in ("_is_path_pred", "_split_outside_angles", "_split_path_seq",
                 "_alt_parts"):
        assert not hasattr(bgp, gone)
