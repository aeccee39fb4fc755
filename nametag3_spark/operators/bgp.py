"""Basic-graph-pattern (BGP) query compilation over SPO triple tables.

The reference emits entities and the downstream KG materializes triples
(`triples.py`, `sources/conll.py:154` is the reference's own vertical
entity sink) — a KG *engine* must also answer queries over that store.
This module compiles the SPARQL core — a conjunction of triple patterns
with shared variables — into a DataFrame plan, Spark-first:

* each pattern becomes a FILTERED scan of the triple table: every
  literal term is an equality predicate Catalyst pushes into the
  parquet scan of a pred-partitioned store (predicate + partition
  pruning — a pattern with a literal predicate reads ONE partition);
* shared variables become equi-joins; the compiler seeds the join
  chain with the most-literal-constrained pattern (classic selectivity
  heuristic) and then grows ONLY along connected variables, so no
  cartesian product is ever planned for a connected pattern (a
  disconnected pattern raises instead of silently exploding);
* Catalyst + AQE finish the job: join reordering stays available
  because everything is plain equi-joins, small pattern legs broadcast
  at runtime, and a star pattern (all patterns sharing ?s) compiles to
  the same one-shuffle shape as ``triples.property_table``.

Semantics: bag matches like SPARQL BGPs; pass ``distinct=True`` for the
DISTINCT modifier. A variable repeated INSIDE one pattern (e.g.
``(?x, "knows", ?x)``) becomes an intra-pattern equality filter.
``optional`` groups are SPARQL OPTIONAL blocks for *well-designed*
queries (each group's shared variables are bound by the required
block): each group compiles to its own inner-joined sub-plan and is
LEFT-joined onto the required matches — unmatched rows keep their
required bindings with NULLs for the optional-only variables.

Beyond the core BGP+OPTIONAL: property paths — one-or-more
(``pred+``, depth-capped doubling closure), zero-or-one (``pred?``,
direct edges plus reflexive rows, no closure), zero-or-more (``pred*``,
the closure plus reflexive rows over all graph terms — SPARQL's
zero-length-path semantics), inverse (``^pred``),
sequence (``a/b``, rewritten to chained patterns over fresh internal
variables), alternation (``a|b``, ONE scan with an In-list
predicate, not a union of scans) and closure-over-alternation
(``(a|b)+``/``(a|b)*``, the doubling closure of the alternation's
edge union — the skos broader|narrower shape) and negated property
sets (``!p`` / ``!(a|b)``, ONE scan with a NOT-IN predicate; not
closable); ``<...>`` angle-quotes an atomic name and a bare term
containing ``://`` is atomic by convenience, so IRI predicates — which
contain the path operator characters ``/`` and ``|`` — compose with
every path form — FILTER EXISTS / NOT EXISTS (semi-/anti-join on
the witness key), MINUS (anti-join on the shared variables; a
MINUS group sharing no variable removes nothing, per SPARQL
compatibility semantics), one expression language for FILTER,
HAVING, BIND and sort keys (``_compile_expr``: comparisons, ``&& ||
!``, arithmetic, string and numeric builtins; a comparison with a
number or a numeric operand compares via a double try_cast), VALUES
(pushed-down In-lists), GRAPH scoping over quad stores, GROUP BY aggregation
(``bgp_aggregate``: one-shuffle hash aggregate with map-side
partials), CONSTRUCT templating (``construct``), and fixed-round
semi-naive Datalog forward chaining (``apply_rules``).

One parser reads the predicate-path syntax: ``_path_step`` turns each
(sequence-expanded) predicate term into its step — inverse, negated,
closure operator, predicate names — and the leg compiler, the
join-order cost model, the semi-naive rule check and the GRAPH-variable
check all take the term's meaning from it. An atomic ``<iri>`` or bare
``://`` IRI is read before any path operator, so ``http://x.org/p+`` is
one literal everywhere; an alternation branch that is a group of names
flattens into the set, and deeper or unmatched paren groups raise.
``_split_top`` is the one angle- and paren-aware splitter (``/`` for
sequences, ``|`` for alternations).

Scale shape (100 TB triple store): worst case is the self-join chain
every SPARQL engine pays; the wins come from literal pushdown before
any shuffle, id-only join columns, and letting AQE choose
broadcast/skew handling per leg. For hot star patterns, materialize
``property_table`` once and scan that instead.
"""

from __future__ import annotations

import itertools
from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F

_POS = ("subj", "pred", "obj")


def _is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _strip_angles(name: str) -> str:
    """``<...>`` quotes an atomic predicate name (IRIs contain ``/``
    and ``|``, the path operator characters) — strip the brackets."""
    if len(name) >= 2 and name.startswith("<") and name.endswith(">"):
        return name[1:-1]
    return name


def _is_atomic_pred(term: str) -> bool:
    """A predicate term the path machinery must NOT split: fully
    angle-bracket-quoted, or a bare IRI (contains ``://`` and no
    brackets — the plain-string convenience)."""
    return (
        term.startswith("<")
        and term.endswith(">")
        and "<" not in term[1:-1]
    ) or ("://" in term and "<" not in term)


def _split_top(term: str, sep: str) -> list[str]:
    """Split on ``sep`` characters that sit outside BOTH ``<...>``
    quoting and ``(...)`` grouping, so ``(a|b)/c`` splits on ``/`` into
    ``(a|b)`` and ``c`` while the slash inside ``<http://...>`` or
    ``(a/b)`` stays put. An unmatched ``(`` or ``)`` raises."""
    parts: list[str] = []
    buf: list[str] = []
    angle = paren = 0
    for ch in term:
        if ch == "<":
            angle += 1
        elif ch == ">":
            angle = max(0, angle - 1)
        elif ch == "(" and angle == 0:
            paren += 1
        elif ch == ")" and angle == 0:
            paren -= 1
            if paren < 0:
                raise ValueError(f"unmatched ')' in path: {term!r}")
        if ch == sep and angle == 0 and paren == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    if paren:
        raise ValueError(f"unmatched '(' in path: {term!r}")
    parts.append("".join(buf))
    return parts


class _Step(NamedTuple):
    """One predicate-path step as ``_path_step`` reads it."""

    inverse: bool  # ^: the pattern matches (o, p, s)
    negated: bool  # !: every edge label EXCEPT ``names``
    closure: str  # "+", "*", "?" or "" (no closure)
    names: tuple[str, ...]  # the literal predicate names; () for a variable
    # the term a plain pattern matches at its pred position (a ?p
    # variable or one plain name); None when the leg is an edge-set
    # scan (a closure, an alternation, a paren group or a negated set)
    pred: str | None


def _name_set(text: str, branch: bool = False) -> tuple[str, ...]:
    """The names of an alternation ``a|b`` or a group ``(a|b)``.
    Angle-quoted (``<iri>``) and bare-IRI names are atomic — operator
    characters inside them are data, not syntax. A branch that is itself
    a group of names flattens into the set (``(a)|(b)`` and
    ``(a|(b|c))`` are SPARQL's ``a|b`` and ``a|b|c``); a name repeated
    in the set counts once, in first-seen order. A group nested deeper
    or misplaced, an unmatched paren and a name carrying ``+ * ? ^ /``
    raise."""
    parts = _split_top(text, "|")
    if len(parts) == 1 and text.startswith("(") and text.endswith(")"):
        parts = _split_top(text[1:-1], "|")
    out: list[str] = []
    for a in (p.strip() for p in parts):
        if not a:
            raise ValueError(f"malformed alternation: {text!r}")
        if _is_atomic_pred(a):
            out.append(_strip_angles(a))
        elif a.startswith("(") and a.endswith(")") and not branch:
            out.extend(_name_set(a, branch=True))
        elif "(" in a or ")" in a:
            raise ValueError(f"nested path groups are not supported: {text!r}")
        elif a.endswith(("+", "*", "?")) or a.startswith("^") or "/" in a:
            raise ValueError(
                "alternation path supports plain predicates only "
                f"(no nested +/^//): {text!r}"
            )
        else:
            out.append(a)
    return tuple(dict.fromkeys(out))


def _path_step(term: str) -> _Step:
    """The one reader of the predicate-path syntax: the leg compiler,
    the cost model, the semi-naive rule check and the GRAPH-variable
    check all take a (sequence-expanded) predicate term's meaning from
    here. ``^`` strips first; a variable, an ``<iri>`` and a bare
    ``://`` IRI are read before any path operator (so ``http://x/p+``
    is one literal name); then one trailing closure operator (a closed
    ``<iri>+`` is read as that one name before any other check); then a
    negated set ``!p`` / ``!(a|b)`` (never closed), a bare alternation
    ``a|b`` (never closed: ``a|b+`` is ambiguous), a paren group
    ``(a|b)`` or one plain name. Malformed forms raise ``ValueError``."""
    inverse = len(term) > 1 and term.startswith("^")
    if inverse:
        term = term[1:]
    if _is_var(term):
        return _Step(inverse, False, "", (), term)
    if _is_atomic_pred(term):
        name = _strip_angles(term)
        return _Step(inverse, False, "", (name,), name)
    closure = term[-1] if len(term) > 1 and term[-1] in "+*?" else ""
    body = term[:-1] if closure else term
    if _is_atomic_pred(body):
        # a closed <iri> (its parens are data, like its / and |)
        return _Step(inverse, False, closure, (_strip_angles(body),), None)
    if body.startswith("!"):
        if closure:
            raise ValueError(
                f"negated property sets cannot be closed: {term!r}"
            )
        return _Step(inverse, True, "", _name_set(body[1:]), None)
    if len(_split_top(body, "|")) > 1:
        if closure:
            # SPARQL precedence reads a|b+ as a|(b+), unsupported here
            raise ValueError(
                "ambiguous alternation+closure — parenthesize the "
                f"alternation, e.g. (a|b){closure}: {term!r}"
            )
        return _Step(inverse, False, "", _name_set(body), None)
    if body.startswith("(") and body.endswith(")"):
        return _Step(inverse, False, closure, _name_set(body), None)
    if "(" in body or ")" in body:
        raise ValueError(f"malformed path group: {term!r}")
    name = _strip_angles(body)
    return _Step(inverse, False, closure, (name,), None if closure else name)


def _edge_scan(src: DataFrame, step: _Step) -> DataFrame:
    """The edges a literal step matches: ONE scan with an In-list or
    NOT-IN predicate on ``pred`` (pushed down like any literal; Catalyst
    rewrites a one-name list to an equality), never a union of scans."""
    hit = F.col("pred").isin(list(step.names))
    return src.where(~hit if step.negated else hit)


def _expand_paths(
    patterns: list[tuple[str, str, str]], counter
) -> list[tuple[str, str, str]]:
    """Rewrite sequence property paths (``a/b/c``) into chained
    patterns over fresh internal variables (``?__seqN``) — excluded
    from the default projection. Each segment may itself be an
    inverse (``^p``), one-or-more (``p+``), alternation (``a|b``) or
    parenthesized-group (``(a|b)``, ``(a|b)+``, ``^(a|b)``) step —
    the split is paren-aware, so ``(a|b)/c`` chains the group scan
    into ``c``; ``counter`` is shared across every group of one
    query so internal names never collide."""
    out: list[tuple[str, str, str]] = []
    for pat in patterns:
        p = pat[1] if len(pat) == 3 else None
        segs = (
            [s.strip() for s in _split_top(p, "/")]
            if isinstance(p, str)
            and (not _is_var(p))
            and "/" in p
            and not _is_atomic_pred(p)
            else []
        )
        if len(segs) > 1:
            if not all(segs):
                raise ValueError(f"malformed sequence path: {p!r}")
            cur = pat[0]
            for i, seg in enumerate(segs):
                nxt = (
                    pat[2]
                    if i == len(segs) - 1
                    else f"?__seq{next(counter)}"
                )
                out.append((cur, seg, nxt))
                cur = nxt
        else:
            out.append(pat)
    return out


_COMPARE = ("=", "==", "!=", "<", "<=", ">", ">=")

# every expression operator and builtin: name -> (min args, max args
# (None: any number), what it yields — "bool", "num" or "" for a string
# or any other value). The SPARQL parser reads its call names from here.
_EXPR_OPS: dict[str, tuple[int, int | None, str]] = {
    "or": (2, None, "bool"),
    "and": (2, None, "bool"),
    "not": (1, 1, "bool"),
    **{op: (2, 2, "bool") for op in _COMPARE},
    "in": (2, 2, "bool"),
    **{op: (2, 2, "num") for op in ("+", "-", "*", "/")},
    "bound": (1, 1, "bool"),
    **{fn: (2, 2, "bool") for fn in ("contains", "strstarts", "strends", "regex")},
    **{fn: (1, 1, "num") for fn in ("strlen", "abs", "round", "floor", "ceil")},
    **{fn: (1, 1, "") for fn in ("ucase", "lcase", "str")},
    "concat": (1, None, ""),
    "coalesce": (2, None, ""),
    "substr": (2, 3, ""),
    "replace": (3, 3, ""),
    "strbefore": (2, 2, ""),
    "strafter": (2, 2, ""),
    "if": (3, 3, ""),
}


def _is_number(e) -> bool:
    return isinstance(e, (int, float)) and not isinstance(e, bool)


def _yields(e) -> str:
    """What a node yields (the ``_EXPR_OPS`` kind); a number leaf is
    "num", any other leaf ""."""
    if isinstance(e, (tuple, list)) and e and e[0] in _EXPR_OPS:
        return _EXPR_OPS[e[0]][2]
    return "num" if _is_number(e) else ""


def _expr_vars(e) -> frozenset[str]:
    """Every ``?var`` name an expression node references — classifies a
    sub-group filter as local (only the group's own variables) or
    correlated (it references an outer one)."""
    if isinstance(e, (tuple, list)):
        return frozenset().union(*(_expr_vars(a) for a in e[1:]))
    return frozenset({e[1:]}) if _is_var(e) else frozenset()


def _compile_expr(
    bound: frozenset[str], e, col_of=F.col, boolean: bool = False
) -> F.Column:
    """One expression node → a Column; the one compiler behind FILTER,
    HAVING, BIND, ``(expr AS ?v)``, ORDER BY keys and IF conditions.

    Leaves: a ``?var`` (must be in ``bound``; ``col_of`` resolves its
    column, e.g. to a renamed witness column in a correlated ON
    condition), a string literal or a number. Every other node is a
    prefix tuple ``(op, *args)`` over the ``_EXPR_OPS`` table:
    ``and``/``or`` (n-ary) and ``not``; comparisons ``= == != < <= >
    >=`` — numeric when either side is a number or a numeric node
    (``+ - * / strlen abs round floor ceil``), both sides then
    ``try_cast`` to double (a non-numeric value becomes NULL and the
    row drops, SPARQL's type-error-is-false), else a string compare;
    ``("in", x, ("a", "b"))`` — one In predicate Catalyst pushes into
    the scan (values compare as stored strings); ``("bound", "?v")``
    (IS NOT NULL after an OPTIONAL left join); ``contains strstarts
    strends regex`` string predicates; arithmetic ``+ - * /`` over
    double try_casts; ``ucase lcase strlen str``; ``substr`` (1-based,
    optional length); ``replace`` (regex); ``concat``; ``coalesce``
    (first non-NULL, compared as strings); ``abs round floor ceil``
    over double try_casts; ``strbefore``/``strafter`` ('' on no match,
    per spec); ``("if", cond, then, else)`` — a NULL/error condition
    takes the else branch, SPARQL's effective-boolean-value coercion.

    ``boolean=True`` (FILTER, HAVING, an IF condition) raises on a node
    that is not boolean-valued. Spark's three-valued NULL logic
    coincides with SPARQL's error-propagation table for filter purposes
    (``error || true`` is true, ``error && x`` and ``!error`` stay
    error → the row drops), so ``&& || !`` compose as plain booleans;
    a boolean node in a BIND yields a boolean column."""
    if isinstance(e, (tuple, list)) and e and e[0] not in _EXPR_OPS:
        raise ValueError(f"unsupported expression operator: {e[0]!r}")
    if boolean and _yields(e) != "bool":
        raise ValueError(f"expected a boolean expression: {e!r}")
    if _is_var(e):
        if e[1:] not in bound:
            raise ValueError(f"expression variable not bound by any pattern: {e}")
        return col_of(e[1:])
    if isinstance(e, str) or _is_number(e):
        return F.lit(e)
    if not isinstance(e, (tuple, list)) or not e:
        raise ValueError(f"unsupported expression term: {e!r}")
    op, *args = e
    lo, hi, _kind = _EXPR_OPS[op]
    if len(args) < lo or (hi is not None and len(args) > hi):
        raise ValueError(f"{op!r} takes {lo}..{hi or 'n'} arguments: {e!r}")

    def sub(a, boolean: bool = False) -> F.Column:
        return _compile_expr(bound, a, col_of, boolean)

    if op in ("and", "or", "not"):
        cols = [sub(a, boolean=True) for a in args]
        if op == "not":
            return ~cols[0]
        out = cols[0]
        for c in cols[1:]:
            out = (out & c) if op == "and" else (out | c)
        return out
    if op == "bound":
        if not _is_var(args[0]):
            raise ValueError(f"bound needs a ?variable: {args[0]!r}")
        return sub(args[0]).isNotNull()
    if op == "in":
        rhs = args[1]
        if (
            not isinstance(rhs, (list, tuple))
            or not rhs
            or not all(isinstance(x, str) and not _is_var(x) for x in rhs)
        ):
            raise ValueError(f"in needs a non-empty literal list: {rhs!r}")
        return sub(args[0]).isin(list(rhs))
    if op == "if":
        # a NULL condition is not-true → the else branch
        then_c, else_c = (sub(a).cast("string") for a in args[1:])
        return F.when(sub(args[0], boolean=True), then_c).otherwise(else_c)
    if op in _COMPARE:
        if "num" in (_yields(args[0]), _yields(args[1])):
            # try_cast, not cast: ANSI mode would THROW on a non-numeric
            # value; SPARQL's type error semantics drop the row instead
            left, right = (
                F.lit(float(a)) if _is_number(a) else sub(a).try_cast("double")
                for a in args
            )
        else:
            left, right = sub(args[0]), sub(args[1])
        return {
            "=": left == right,
            "==": left == right,
            "!=": left != right,
            "<": left < right,
            "<=": left <= right,
            ">": left > right,
            ">=": left >= right,
        }[op]
    cols = [sub(a) for a in args]
    if op in ("+", "-", "*", "/"):
        x, y = (c.try_cast("double") for c in cols)
        # try_divide: a zero divisor is SPARQL's error → unbound, where
        # ANSI division would throw
        return {"+": x + y, "-": x - y, "*": x * y, "/": F.try_divide(x, y)}[op]
    if op in ("abs", "round", "floor", "ceil"):
        # ROUND is half-up away from zero per the XPath fn:round SPARQL
        # inherits — Spark's F.round matches; FLOOR/CEIL keep the double
        # type (SPARQL returns the argument's numeric type)
        c = cols[0].try_cast("double")
        return {
            "abs": F.abs(c),
            "round": F.round(c, 0),
            "floor": F.floor(c).cast("double"),
            "ceil": F.ceil(c).cast("double"),
        }[op]
    strs = [c.cast("string") for c in cols]
    if op == "coalesce":
        return F.coalesce(*strs)
    if op == "concat":
        return F.concat(*strs)
    if op == "substr":
        length = cols[2].try_cast("int") if len(cols) == 3 else F.lit(2147483647)
        return F.substring(strs[0], cols[1].try_cast("int"), length)
    if op == "replace":
        return F.regexp_replace(*strs)
    if op in ("strbefore", "strafter"):
        # '' when the separator does not occur (NOT null): substring_index
        # gives the whole string on no match, so gate on a contains()
        # test; call_function passes the Column delimiter through
        n = F.lit(1) if op == "strbefore" else F.lit(-1)
        val = F.call_function("substring_index", strs[0], strs[1], n)
        return F.when(strs[0].contains(strs[1]), val).otherwise(F.lit(""))
    if op == "str":
        return strs[0]
    return {
        "ucase": F.upper,
        "lcase": F.lower,
        "strlen": F.length,
        "contains": F.contains,
        "strstarts": F.startswith,
        "strends": F.endswith,
        "regex": F.rlike,
    }[op](*cols)


def _compile_legs(
    src: DataFrame,
    patterns: list[tuple[str, str, str]],
    path_depth: int = 8,
    src_overrides: dict[int, DataFrame] | None = None,
    graph_var: str | None = None,
) -> list[tuple[DataFrame, frozenset[str]]]:
    """One filtered/renamed scan per pattern: literals become equality
    predicates (pushed down by Catalyst), variables become columns.
    ``src_overrides`` swaps the triple source for specific pattern
    indices (semi-naive delta evaluation compiles one leg against the
    last round's delta and the rest against the full known set).

    Each predicate term is read once by ``_path_step``. A closure step
    (``"knows+"``) becomes the transitive closure of its edge set,
    depth-capped at ``path_depth``. Cycle-closing matches are INCLUDED
    (``a knows+ a`` holds when a ≥1-hop path a→…→a exists) per SPARQL
    arbitrary-length-path semantics; the strict-ancestor variant is the
    ontology layer's ``transitive_closure(keep_cycles=False)``
    default."""
    from nametag3_spark.operators.ontology import transitive_closure

    legs: list[tuple[DataFrame, frozenset[str]]] = []
    for idx, pat in enumerate(patterns):
        if len(pat) != 3:
            raise ValueError(f"pattern must be a 3-tuple: {pat!r}")
        src_i = (src_overrides or {}).get(idx, src)
        s_term, p_term, o_term = pat
        step = _path_step(p_term)
        if step.inverse:
            # SPARQL inverse path: ^pred means (o, pred, s)
            s_term, o_term = o_term, s_term
        positions, terms = ("subj", "obj"), (s_term, o_term)
        if step.closure:
            if graph_var is not None:
                raise ValueError(
                    "property-path patterns are not supported under a "
                    f"GRAPH variable (a closure would mix graphs): {pat!r}"
                )
            # close the edge set — one predicate's, or the union of an
            # alternation's ((a|b)+, e.g. a broader|narrower closure);
            # the closure may be corpus-scale, so AQE (not a pinned
            # broadcast) picks each doubling round's join strategy
            base = _edge_scan(src_i, step).select("subj", "obj")
            if step.closure == "?":
                # zero-or-one: the direct edges plus the zero-length
                # reflexive rows below — no closure at all. SPARQL
                # path evaluation is set-semantics, and a self-loop
                # edge is already covered by its reflexive row, so
                # strict (subj != obj) edges keep the union
                # duplicate-free without a corpus-wide distinct.
                leg = base.where(
                    F.col("subj") != F.col("obj")
                ).distinct()
            else:
                leg = transitive_closure(
                    base,
                    max_depth=path_depth,
                    child="subj",
                    parent="obj",
                    broadcast_build=False,
                    # p+ keeps cycle-closing matches (a p+ a via
                    # a→b→a), SPARQL arbitrary-length semantics; p*
                    # uses the strict closure because its zero-length
                    # reflexive union below already covers every
                    # self-pair — keeping cycles there too would
                    # double-count them under bag semantics
                    keep_cycles=step.closure == "+",
                ).select(
                    F.col("child").alias("subj"),
                    F.col("ancestor").alias("obj"),
                )
            if step.closure in ("*", "?"):
                # zero-or-more / zero-or-one: add the reflexive rows
                # over ALL graph terms (SPARQL's zero-length path
                # matches every term in the graph, not just the
                # predicate's endpoints). Corpus-wide distinct —
                # prefer p+ when zero-length matches aren't needed.
                # Strict closure/edges exclude self-loops, so the two
                # sets are disjoint.
                nodes = (
                    src_i.select("subj")
                    .unionByName(src_i.select(F.col("obj").alias("subj")))
                    .distinct()
                )
                leg = leg.unionByName(
                    nodes.select("subj", F.col("subj").alias("obj"))
                )
        elif step.pred is None:
            # alternation, paren group or negated set: one In / NOT-IN
            # scan over the edge labels
            leg = _edge_scan(src_i, step)
        else:
            # one literal name or a variable rides the term machinery
            # below (a literal is one more pushed-down equality)
            leg, positions = src_i, _POS
            terms = (s_term, step.pred, o_term)
        if graph_var is not None:
            # per-EDGE legs carry their graph: the binding rides the
            # SAME var/literal machinery (incl. repeated-var equality
            # if ?g also names a term)
            positions = ("graph",) + positions
            terms = ("?" + graph_var,) + terms
        var_cols: dict[str, str] = {}  # var name -> first position bound
        for pos, term in zip(positions, terms):
            if _is_var(term):
                v = term[1:]
                if not v:
                    raise ValueError(f"bare '?' variable in {pat!r}")
                if v in var_cols:  # repeated var inside one pattern
                    leg = leg.where(F.col(pos) == F.col(var_cols[v]))
                else:
                    var_cols[v] = pos
            else:
                leg = leg.where(F.col(pos) == F.lit(term))
        leg = leg.select(*[F.col(p).alias(v) for v, p in var_cols.items()])
        legs.append((leg, frozenset(var_cols)))
    return legs


def _estimate_leg_costs(
    patterns: list[tuple[str, str, str]],
    pred_stats: dict[str, int],
) -> list[float]:
    """Estimated cardinality per pattern from per-predicate row counts
    (the ``kg_stats``/``triples.pred_stats`` output), over the step
    ``_path_step`` reads: a literal predicate costs its stored count
    (0.5 when absent — an unknown predicate matches nothing and makes
    the best seed), a name set sums its names, a negated set costs the
    store minus the excluded labels, a closure gets the classic 2x
    expansion guess, a variable predicate costs the whole store; an
    inverse costs what its forward twin does; each additional literal
    term applies a 0.1 selectivity."""
    total = float(sum(pred_stats.values())) or 1.0
    costs: list[float] = []
    for s_term, p_term, o_term in patterns:
        step = _path_step(p_term)
        if not step.names:  # a variable predicate
            c = total
        elif step.negated:
            excluded = sum(float(pred_stats.get(a, 0.0)) for a in step.names)
            c = max(total - excluded, 0.5)
        else:
            c = sum(float(pred_stats.get(a, 0.0)) + 0.5 for a in step.names)
            if step.closure:
                c *= 2.0
        for t in (s_term, o_term):
            if not _is_var(t):
                c *= 0.1
        costs.append(c)
    return costs


def _join_connected(
    legs: list[tuple[DataFrame, frozenset[str]]],
    costs: list[float] | None = None,
) -> tuple[DataFrame, frozenset[str]]:
    """Inner-join legs along shared variables, seeded from the
    cheapest leg — estimated cardinality when ``costs`` is given
    (stats-driven), else the most literal-constrained leg — growing
    greedily along connected variables by the same key; raises on a
    disconnected (cartesian) pattern instead of planning one."""
    if costs is not None:
        order = sorted(range(len(legs)), key=lambda i: (costs[i], i))
    else:
        order = sorted(range(len(legs)), key=lambda i: (len(legs[i][1]), i))
    seed, *rest = order
    joined, bound = legs[seed]
    pending = list(rest)
    while pending:
        pick = next(
            (i for i in pending if legs[i][1] & bound),
            None,
        )
        if pick is None:
            raise ValueError(
                "disconnected basic graph pattern (cartesian product); "
                "split the query or add a linking pattern"
            )
        pending.remove(pick)
        leg, vars_ = legs[pick]
        joined = joined.join(leg, on=sorted(vars_ & bound))
        bound = bound | vars_
    return joined, bound


def bgp_query(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    select: list[str] | None = None,
    distinct: bool = False,
    optional: list[list[tuple[str, str, str]]] | None = None,
    not_exists: list[list[tuple[str, str, str]] | dict] | None = None,
    exists: list[list[tuple[str, str, str]] | dict] | None = None,
    minus: list[list[tuple[str, str, str]] | dict] | None = None,
    binds: list[tuple] | None = None,
    filters: list[tuple] | None = None,
    values: dict[str, list[str]] | None = None,
    extra_legs: list[DataFrame] | None = None,
    pred_stats: dict[str, int] | None = None,
    path_depth: int = 8,
    graph: str | None = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    graph_col: str = "graph",
) -> DataFrame:
    """Compile a conjunctive triple-pattern query to a DataFrame.

    ``patterns``: (s, p, o) tuples; terms starting with ``?`` are
    variables, anything else is a literal equality constraint.
    ``select``: variable names (with or without ``?``) to project, in
    order; default = every variable, sorted. Returns one row per match
    (bag semantics; ``distinct=True`` for set semantics).
    ``optional``: OPTIONAL blocks — each a pattern list compiled to its
    own inner-joined sub-plan, then LEFT-joined on the variables it
    shares with the required block (which must bind at least one, and
    in a well-designed query all, of the shared variables). A group
    may instead be a dict ``{"patterns": [...], "filters": [...]}``:
    the filters apply to the sub-plan BEFORE the left join (SPARQL's
    LeftJoin-condition scoping — a group row failing the filter does
    not extend, the required row survives with NULLs) and may only
    reference variables the group itself binds.
    A literal predicate ending in ``+`` is a one-or-more property path,
    closed to ``path_depth`` steps (strict: no reflexive matches);
    ``*`` is zero-or-more (the same closure plus reflexive rows over
    every graph term — a corpus-wide distinct; prefer ``+`` when
    zero-length matches aren't needed); ``?`` is zero-or-one (the
    direct edges plus the same reflexive rows, no closure).
    ``not_exists``: FILTER NOT EXISTS blocks — each group compiles to
    its own inner-joined sub-plan and removes required matches via a
    LEFT ANTI join on the shared variables (which must exist).
    ``exists``: FILTER EXISTS blocks — the positive twin, a LEFT SEMI
    join: keeps each required match at most once however many
    witnesses exist.
    ``minus``: SPARQL MINUS blocks — same anti-join shape, but a
    group sharing NO variable with the required block removes
    nothing (SPARQL's compatibility semantics) instead of raising.
    Each of the three may instead be a dict ``{"patterns": [...],
    "filters": [...]}``. Filters over the group's OWN variables apply
    to the witness sub-plan BEFORE the semi/anti join (exact: shared
    variables are equi-joined, so a pre-join filter over them equals
    the substituted evaluation). For EXISTS/NOT EXISTS a filter may
    also reference OUTER variables — the correlated form: it compiles
    into the semi/anti join's ON condition together with the
    shared-variable equalities, which is SPARQL's substitution
    semantics (note Spark may have to plan a conditional join as
    broadcast-nested-loop when the group shares no equality key).
    For MINUS correlated filters raise: the spec evaluates the right
    side independently, so such a filter sees an unbound variable —
    type error, false, a group that matches nothing — and the MINUS
    silently removes nothing; the raise is the loud version.
    ``binds``: SPARQL BIND — ``(expr, alias)`` pairs evaluated in
    order after the joins; each alias becomes a selectable/filterable
    variable. ``filters``: FILTER expressions, each a boolean-valued
    node of the one expression language (prefix ``(op, *args)``
    tuples over ``?var``, string and number leaves, e.g. ``(">",
    ("+", "?a", "?b"), 10)`` or ``("not", ("bound", "?w"))``; see
    ``_compile_expr``, which also compiles every bind); applied after
    OPTIONAL joins and BINDs, so a filter on an optional-only variable
    drops unmatched rows (NULL-comparison-is-false), matching SPARQL,
    and may reference BIND aliases.
    A literal predicate may also be a sequence path (``a/b``:
    rewritten to chained patterns over internal variables), an
    inverse step (``^p``) or an alternation (``a|b``: one scan with
    an In-list predicate).
    ``values``: SPARQL VALUES — inline allowed bindings per variable
    (``{"x": ["a", "b"]}``), each applied as an In-list predicate that
    Catalyst pushes below the joins (multi-variable dicts restrict each
    variable independently, i.e. a cross-product VALUES table).
    ``extra_legs``: pre-compiled binding sets joined into the chain
    like pattern legs — each a DataFrame whose COLUMN NAMES are
    variable names (the SPARQL subquery hook, and an escape hatch to
    join any DataFrame as bindings). Connectivity rules apply.
    ``pred_stats``: per-predicate row counts (the ``kg_stats`` /
    ``triples.pred_stats`` output, collected to a dict) — switches
    join ordering from the literal-count heuristic to estimated
    cardinalities (see ``_estimate_leg_costs``): the cheapest leg
    seeds the left-deep chain and growth picks the cheapest connected
    leg. At store scale, collect the stats once per session and pass
    them to every query.
    ``graph``: SPARQL GRAPH over a QUAD store (``graph_col`` names the
    provenance/snapshot column). ``None`` queries the union of all
    graphs (RDF default-graph-as-union); a literal scopes every
    pattern to that one graph via a pushed-down filter (partition
    pruning on a graph-partitioned store); a variable (``"?g"``)
    requires all patterns of the query to match WITHIN one graph and
    binds it — the per-snapshot query shape. Per-EDGE pattern kinds
    (plain, inverse, sequence, alternation, negated sets, atomic IRIs)
    all bind the graph variable; a step the compiler CLOSES (``+ * ?``)
    is rejected under a graph VARIABLE (a multi-hop closure would mix
    graphs).
    """
    if not patterns and not extra_legs:
        raise ValueError("empty basic graph pattern")
    src = triples.select(
        *[F.col(c).alias(p) for c, p in zip((subj_col, pred_col, obj_col), _POS)]
    )
    graph_var: str | None = None
    if graph is not None:
        if _is_var(graph):
            graph_var = graph[1:]
            if not graph_var:
                raise ValueError("bare '?' graph variable")
            src = triples.select(
                F.col(graph_col).alias("graph"),
                *[
                    F.col(c).alias(p)
                    for c, p in zip((subj_col, pred_col, obj_col), _POS)
                ],
            )
        else:
            # literal graph: one pushed-down filter scopes every leg
            src = triples.where(F.col(graph_col) == F.lit(graph)).select(
                *[
                    F.col(c).alias(p)
                    for c, p in zip((subj_col, pred_col, obj_col), _POS)
                ]
            )

    seq_counter = itertools.count()
    stats_total = float(sum(pred_stats.values())) if pred_stats else 0.0

    def _group_plan(pats):
        expanded = _expand_paths(pats, seq_counter)
        g_legs = _compile_legs(src, expanded, path_depth, graph_var=graph_var)
        g_costs = (
            _estimate_leg_costs(expanded, pred_stats) if pred_stats else None
        )
        return g_legs, g_costs

    legs, costs = _group_plan(patterns)
    for sub in extra_legs or []:
        # a pre-compiled binding set (e.g. a SPARQL subquery, or ANY
        # DataFrame whose column names are variable names) joins the
        # chain like a pattern leg — shared columns become the join key
        cols = frozenset(sub.columns)
        if not cols:
            raise ValueError("extra leg has no columns")
        legs.append((sub, cols))
        if costs is not None:
            costs.append(stats_total)  # unknown cardinality: whole store
    joined, bound = _join_connected(legs, costs)

    def _corr_cond(shared, corr, g_vars):
        """The join CONDITION for a correlated sub-group: equality on
        the shared pattern variables (witness side renamed ``__w_*``)
        AND the correlated filters, each compiled with group variables
        resolving to the renamed witness columns and outer variables
        to the required plan's own columns. Equality is null-unsafe,
        matching the equi-join (``on=shared``) path: an outer NULL
        (OPTIONAL miss) never matches a witness."""
        cond = None
        for v in shared:
            c = F.col(v) == F.col("__w_" + v)
            cond = c if cond is None else cond & c

        def col_of(name: str) -> F.Column:
            return F.col("__w_" + name) if name in g_vars else F.col(name)

        for flt in corr:
            c = _compile_expr(bound | g_vars, flt, col_of, boolean=True)
            cond = c if cond is None else cond & c
        return cond

    def _rename_witness(g_joined, g_vars):
        return g_joined.select(
            *[F.col(v).alias("__w_" + v) for v in sorted(g_vars)]
        )

    def _sub_plan(group, kind: str):
        """Compile an OPTIONAL/EXISTS/NOT EXISTS/MINUS group (pattern
        list or ``{"patterns", "filters"}`` dict) to its sub-plan.
        Filters over the group's OWN variables apply pre-join (exact
        for every form: shared variables are equi-joined, so a
        pre-join filter over them equals the joined evaluation);
        filters referencing an outer variable come back separately as
        CORRELATED — the caller folds them into the join condition
        (SPARQL's LeftJoin-condition / EXISTS-substitution semantics).
        A filter variable bound by NEITHER side still raises."""
        g_filters: list[tuple] = []
        if isinstance(group, dict):
            g_filters = group.get("filters") or []
            group = group.get("patterns") or []
        if not group:
            raise ValueError(f"empty {kind} group")
        g_joined, g_vars = _join_connected(*_group_plan(group))
        corr: list[tuple] = []
        for flt in g_filters:
            fvars = _expr_vars(flt)
            missing = fvars - g_vars - bound
            if missing:
                raise ValueError(
                    f"filter variable not bound by any pattern in or "
                    f"around the {kind} group: ?{sorted(missing)[0]}"
                )
            if fvars <= g_vars:
                g_joined = g_joined.where(
                    _compile_expr(g_vars, flt, boolean=True)
                )
            else:
                corr.append(flt)
        return g_joined, g_vars, group, corr

    for group in optional or []:
        g_joined, g_vars, group, corr = _sub_plan(group, "OPTIONAL")
        shared = sorted(g_vars & bound)
        if not shared and not corr:
            raise ValueError(
                "OPTIONAL group shares no variable with the required "
                f"pattern (cartesian product): {group!r}"
            )
        if corr:
            # correlated LeftJoin condition: witness side renamed, the
            # filter joins the equality keys inside the ON clause, new
            # group bindings renamed back after the join
            w = _rename_witness(g_joined, g_vars)
            joined = joined.join(
                w, on=_corr_cond(shared, corr, g_vars), how="left"
            ).select(
                *[F.col(v) for v in sorted(bound)],
                *[
                    F.col("__w_" + v).alias(v)
                    for v in sorted(g_vars - bound)
                ],
            )
        else:
            joined = joined.join(g_joined, on=shared, how="left")
        bound = bound | g_vars

    def _witness_join(group, kind: str, how: str):
        """One EXISTS/NOT EXISTS/MINUS application: equi-join on the
        shared variables when every filter is group-local (ids-only
        witness projection), else a conditional semi/anti join whose
        ON clause carries the correlated filters."""
        nonlocal joined
        g_joined, g_vars, group, corr = _sub_plan(group, kind)
        shared = sorted(g_vars & bound)
        if kind == "MINUS" and corr:
            # per SPARQL the MINUS right side evaluates WITHOUT the
            # outer bindings: its filter sees the variable unbound →
            # type error → false → the group matches nothing and the
            # MINUS removes nothing. Always-dead code — raise loudly
            # instead of silently keeping every row.
            raise ValueError(
                "MINUS filters cannot reference outer variables (the "
                "right side evaluates independently per SPARQL; such a "
                f"filter would match nothing): {corr[0]!r}"
            )
        if not shared and not corr:
            if kind == "MINUS":
                # SPARQL MINUS: no shared domain removes nothing
                return
            raise ValueError(
                f"{kind} group shares no variable with the required "
                f"pattern: {group!r}"
            )
        if corr:
            w = _rename_witness(g_joined, g_vars)
            joined = joined.join(
                w, on=_corr_cond(shared, corr, g_vars), how=how
            )
        else:
            # the join carries only the shared key columns of the
            # witness; semi keeps each required match AT MOST once
            # regardless of witness count (bag cardinality preserved)
            joined = joined.join(
                g_joined.select(*shared), on=shared, how=how
            )

    for group in not_exists or []:
        _witness_join(group, "NOT EXISTS", "left_anti")

    for group in exists or []:
        _witness_join(group, "EXISTS", "left_semi")

    for group in minus or []:
        _witness_join(group, "MINUS", "left_anti")

    for expr, alias in binds or []:
        a = alias.lstrip("?")
        if not a:
            raise ValueError("BIND needs a non-empty alias")
        if a in bound:
            raise ValueError(f"BIND alias already bound: ?{a}")
        joined = joined.withColumn(a, _compile_expr(bound, expr))
        bound = bound | {a}

    for flt in filters or []:
        joined = joined.where(_compile_expr(bound, flt, boolean=True))

    for var, allowed in (values or {}).items():
        v = var.lstrip("?")
        if v not in bound:
            raise ValueError(f"VALUES variable not bound by any pattern: {var}")
        if not allowed:
            raise ValueError(f"empty VALUES list for {var}")
        # a literal binding list is tiny by construction: isin compiles
        # to an In predicate Catalyst can push below the joins
        joined = joined.where(F.col(v).isin(list(allowed)))

    out_vars = (
        [v.lstrip("?") for v in select]
        if select
        else sorted(v for v in bound if not v.startswith("__"))
    )
    missing = [v for v in out_vars if v not in bound]
    if missing:
        raise ValueError(f"select variables not bound by any pattern: {missing}")
    out = joined.select(*out_vars)
    return out.distinct() if distinct else out


def construct(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    template: list[tuple[str, str, str]],
    **bgp_kwargs,
) -> DataFrame:
    """SPARQL CONSTRUCT: derive NEW (subj, pred, obj) triples from each
    BGP match via a template — the single-rule forward-chaining
    primitive of rule-based KG construction (e.g. ``?o ordered_by ?c .
    ?c in_nation ?n => ?o shipped_to ?n``).

    ``template`` triples mix bound variables and literals. Matches are
    deduplicated BEFORE templating (CONSTRUCT emits a graph, i.e. a
    set) and the result is distinct per emitted triple. Rows where any
    templated variable is NULL (possible when the match used an
    ``optional`` block) are dropped, mirroring SPARQL's skip-on-
    unbound CONSTRUCT semantics. Accepts every ``bgp_query`` keyword
    except ``select``/``distinct``, which the templating owns.
    """
    if not template:
        raise ValueError("empty CONSTRUCT template")
    for kw in ("select", "distinct"):
        if kw in bgp_kwargs:
            raise ValueError(f"construct() owns the {kw!r} argument")
    needed = _template_needed(template)
    # bag matches on purpose: the templating's own final distinct already
    # yields the emitted-triple SET, so a match-level distinct would be a
    # second corpus-scale shuffle buying nothing — both distincts dedup
    # map-side first, so the final exchange carries the same bytes either
    # way (measured: dropping it halves the construct wall at 10× scale,
    # output proven row-identical).
    matches = bgp_query(
        triples, patterns, select=needed or None, distinct=False, **bgp_kwargs
    )

    return _template_expand(matches, template)


def _template_needed(template: list[tuple[str, str, str]]) -> list[str]:
    return sorted({t[1:] for tri in template for t in tri if _is_var(t)})


def _template_expand(
    matches: DataFrame, template: list[tuple[str, str, str]]
) -> DataFrame:
    """ONE pass over the matches: the template expands via an inline
    explode (a Generate node), never by unioning T copies of the match
    sub-plan — which would re-scan the corpus once per template
    triple."""

    def term_col(t: str):
        return F.col(t[1:]) if _is_var(t) else F.lit(t)

    shapes = []
    for tri in template:
        if len(tri) != 3:
            raise ValueError(f"template entry must be a 3-tuple: {tri!r}")
        shapes.append(
            F.struct(
                term_col(tri[0]).alias("subj"),
                term_col(tri[1]).alias("pred"),
                term_col(tri[2]).alias("obj"),
            )
        )
    return (
        matches.select(F.explode(F.array(*shapes)).alias("t"))
        .select("t.subj", "t.pred", "t.obj")
        .where(
            F.col("subj").isNotNull()
            & F.col("pred").isNotNull()
            & F.col("obj").isNotNull()
        )
        .distinct()
    )


def bgp_union(
    triples: DataFrame,
    groups: list[list[tuple[str, str, str]]],
    select: list[str],
    distinct: bool = False,
    allow_partial: bool = False,
    **bgp_kwargs,
) -> DataFrame:
    """SPARQL UNION: the bag union of independently-compiled pattern
    groups projected onto a COMMON ``select`` list (explicit, because
    union semantics require aligned columns). By default every group
    must bind every selected variable; ``allow_partial=True`` instead
    NULL-fills the selected variables a branch does not bind (SPARQL's
    unbound-in-this-branch semantics — the branch-private-variable
    shape ``SELECT ?x ?y ?w { {?x knows ?y} UNION {?x works_at ?w} }``).
    A branch binding NONE of the selected variables is still an error
    (its rows would be all-NULL noise). ``bgp_kwargs`` apply to every
    group; note a FILTER/BIND over a variable some branch does not
    bind still raises in that branch — bind it or filter outside.
    """
    if len(groups) < 2:
        raise ValueError("UNION needs at least two pattern groups")
    graph_kw = bgp_kwargs.get("graph")
    graph_var = (
        graph_kw[1:]
        if isinstance(graph_kw, str) and _is_var(graph_kw) and len(graph_kw) > 1
        else None
    )
    parts = []
    for g in groups:
        if allow_partial:
            gvars = {
                t[1:]
                for pat in g
                for t in pat
                if isinstance(t, str) and t.startswith("?") and len(t) > 1
            }
            if graph_var is not None:
                # a GRAPH variable is bound by every branch
                gvars.add(graph_var)
            # BIND aliases are computed columns every branch produces —
            # they must reach bgp_query's select, not be NULL-filled
            gvars |= {
                alias for _e, alias in (bgp_kwargs.get("binds") or [])
            }
            sel = [v for v in select if v in gvars]
            if not sel:
                raise ValueError(
                    "UNION branch binds none of the selected "
                    f"variables {select!r}: {g!r}"
                )
            p = bgp_query(triples, g, select=sel, **bgp_kwargs)
            for v in select:
                if v not in sel:
                    p = p.withColumn(v, F.lit(None).cast("string"))
            p = p.select(*select)
        else:
            p = bgp_query(triples, g, select=select, **bgp_kwargs)
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct() if distinct else out


_AGG_FUNCS = (
    "count",
    "count_distinct",
    "sum",
    "avg",
    "min",
    "max",
    "sample",
    "group_concat",
)


def bgp_aggregate(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    group_by: list[str],
    aggs: list[tuple[str, str, str]],
    having: list[tuple] | None = None,
    **bgp_kwargs,
) -> DataFrame:
    """SPARQL GROUP BY + aggregates over a BGP: compiles the match set
    with ``bgp_query`` then a ONE-shuffle hash aggregate (map-side
    partial aggregation comes free from Catalyst).

    ``group_by``: variable names (``?`` optional) to group on — may be
    empty for a whole-result aggregate (one output row).
    ``aggs``: ``(func, var, alias)`` triples; func in ``count``,
    ``count_distinct``, ``sum``, ``avg``, ``min``, ``max``. ``count``
    over ``"*"`` counts rows; over a variable it counts non-NULL
    bindings (the OPTIONAL-aware SPARQL semantics). Numeric funcs
    (sum/avg) try_cast the string binding to double — non-numeric
    bindings are ignored, SPARQL's silent-error aggregation.
    ``having``: post-aggregation filters, boolean nodes of the same
    expression language as ``filters`` (``_compile_expr``) over the
    group keys and aggregate ALIASES (Catalyst evaluates them after the
    aggregate; a number operand compares numerically — aggregate
    outputs are already numeric, so the try_cast is a no-op there).
    ``bgp_kwargs`` pass to ``bgp_query`` (filters, optional, ...);
    ``select``/``distinct`` are owned by the aggregation."""
    for kw in ("select", "distinct"):
        if kw in bgp_kwargs:
            raise ValueError(f"bgp_aggregate() owns the {kw!r} argument")
    if not aggs:
        raise ValueError("bgp_aggregate needs at least one aggregate")
    keys = [g.lstrip("?") for g in group_by]
    needed = sorted(
        {*keys, *(a[1].lstrip("?") for a in aggs if a[1] != "*")}
    )
    matches = bgp_query(triples, patterns, select=needed or None, **bgp_kwargs)

    cols = []
    for spec_a in aggs:
        # (func, var, alias[, separator]) — the 4th slot is
        # group_concat's separator (default ",")
        func, var, alias = spec_a[0], spec_a[1], spec_a[2]
        sep = spec_a[3] if len(spec_a) > 3 else ","
        if func not in _AGG_FUNCS:
            raise ValueError(
                f"unsupported aggregate {func!r} (use one of {_AGG_FUNCS})"
            )
        a = alias.lstrip("?")
        if var == "*":
            if func != "count":
                raise ValueError(f"only count(*) may aggregate '*', not {func}")
            cols.append(F.count(F.lit(1)).alias(a))
            continue
        v = F.col(var.lstrip("?"))
        if func == "count":
            cols.append(F.count(v).alias(a))
        elif func == "count_distinct":
            cols.append(F.countDistinct(v).alias(a))
        elif func in ("sum", "avg"):
            agg = F.sum if func == "sum" else F.avg
            cols.append(agg(v.try_cast("double")).alias(a))
        elif func == "sample":
            # SPARQL SAMPLE may return ANY group member; we pick the
            # binary-collation minimum so the result is deterministic
            # (partitioning-invariant), which F.first is not
            cols.append(F.min(v).alias(a))
        elif func == "group_concat":
            # sorted elements: the SPARQL spec leaves element order
            # undefined — sorting makes the value deterministic and
            # cross-engine comparable; separator defaults to ","
            cols.append(
                F.array_join(F.array_sort(F.collect_list(v)), sep).alias(a)
            )
        else:  # min/max: string (binary-collation) semantics
            cols.append((F.min if func == "min" else F.max)(v).alias(a))
    out = matches.groupBy(*keys).agg(*cols)
    out_names = frozenset(keys) | {a[2].lstrip("?") for a in aggs}
    for flt in having or []:
        out = out.where(_compile_expr(out_names, flt, boolean=True))
    return out


def ask(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    **bgp_kwargs,
) -> bool:
    """SPARQL ASK: does at least one match exist? Compiles the same
    plan as ``bgp_query`` and takes ONE row — Spark stops the scan at
    the first match (CollectLimit), so an ASK against a selective
    pattern touches a fraction of the store."""
    if "select" in bgp_kwargs:
        raise ValueError("ask() owns the 'select' argument")
    return bool(bgp_query(triples, patterns, **bgp_kwargs).take(1))


def describe(
    triples: DataFrame,
    entity: str,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """SPARQL DESCRIBE (concise-bounded-description lite): every triple
    where the entity is subject or object — the entity-card lookup a
    KG serves constantly. ONE scan with an OR filter (both halves push
    down); on a store bucketed/partitioned by subject the subj half
    prunes, and the obj half is the scan's residual filter."""
    return triples.where(
        (F.col(subj_col) == F.lit(entity)) | (F.col(obj_col) == F.lit(entity))
    )


def apply_rules(
    triples: DataFrame,
    rules: list[tuple[list[tuple[str, str, str]], list[tuple[str, str, str]]]],
    rounds: int = 3,
    path_depth: int = 8,
) -> DataFrame:
    """Bounded forward chaining: ``rounds`` semi-naive rounds of every
    (patterns, template) rule (``_semi_naive_rounds``), seeded with the
    distinct input as both the known set and the frontier. Returns
    base ∪ derived — the facts naive evaluation (every rule over the
    whole accumulated set, every round) derives in as many rounds.

    Derivations compound across rounds (a transitive rule doubles
    reachable path length per round after seeding, so ``rounds`` rounds
    close chains of length 2^(rounds-1)). Rounds are fixed, never
    convergence-tested: the plan shape is data-independent, which is
    what lets a DuckDB twin unroll it and a checkpointer resume it.
    Every round's frontier and known set are materialized, so the
    returned frame's plan is one checkpointed leaf whatever the round
    count (nesting each round's plan in the next doubles a transitive
    rule's plan per round, and its optimizer time with it)."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if not rules:
        raise ValueError("empty rule set")
    known = triples.select("subj", "pred", "obj").distinct()
    return _semi_naive_rounds(known, known, rules, rounds, path_depth)[0]


def _semi_naive_rules(
    rules: list[tuple[list[tuple[str, str, str]], list[tuple[str, str, str]]]],
) -> list[tuple[list[tuple[str, str, str]], list[tuple[str, str, str]], bool]]:
    """The one rule check of forward chaining, run before any plan or
    stream starts: sequence property paths (``a/b``) rewrite to chained
    legs over fresh internal variables, and every leg's predicate is
    parsed (``_path_step``), so a malformed term raises here. Returns
    ``(patterns, template, closed)`` per rule, ``closed`` when a
    rewritten leg is a closure step (``+ * ?``). Compiling the raw
    ``a/b`` instead would read it as one literal predicate and
    silently derive nothing."""
    seq_counter = itertools.count()
    out = []
    for patterns, template in rules:
        pats = _expand_paths(list(patterns), seq_counter)
        steps = [
            _path_step(pat[1])
            for pat in pats
            if len(pat) == 3 and isinstance(pat[1], str)
        ]
        out.append((pats, template, any(s.closure for s in steps)))
    return out


def _semi_naive_rounds(
    known: DataFrame,
    delta: DataFrame,
    rules: list[tuple[list[tuple[str, str, str]], list[tuple[str, str, str]]]],
    rounds: int,
    path_depth: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Run ``rounds`` semi-naive rounds from an EXPLICIT frontier:
    ``known`` is the complete fact set so far, ``delta`` the facts not
    yet propagated through the rules (``delta ⊆ known``). Returns
    (new_known, all_new_facts) — the second is everything derived
    beyond the input ``known``, which is exactly what an incremental
    consumer (streaming micro-batch) appends to its store.

    A closure-free rule joins once PER LEG with that one leg read from
    the delta and the rest from the known set: any genuinely new match
    uses ≥1 delta fact in some leg, so this is exhaustive. A closure
    leg (``p+``, ``p*``, ``p?``) can chain old and delta edges in one
    path, so a rule holding one joins once with every leg over the
    known set — a superset of every delta-sourced variant, hence exact,
    at a naive round's cost. Each round's derivations are anti-joined
    against the known set, and the frontier and known set are
    ``localCheckpoint``ed, so later rounds plan over one leaf each."""
    rules = _semi_naive_rules(rules)
    initial = known
    for _ in range(rounds):
        derived = None
        for patterns, template, closed in rules:
            needed = _template_needed(template)
            sources = (
                [None] if closed else [{i: delta} for i in range(len(patterns))]
            )
            for src_overrides in sources:
                legs = _compile_legs(
                    known, patterns, path_depth, src_overrides=src_overrides
                )
                matches, bound = _join_connected(legs)
                missing = [v for v in needed if v not in bound]
                if missing:
                    raise ValueError(
                        f"template variables not bound by rule: {missing}"
                    )
                d = _template_expand(
                    matches.select(*needed) if needed else matches, template
                )
                derived = d if derived is None else derived.unionByName(d)
        # the frontier: facts no earlier round (or the base) produced
        delta = derived.distinct().join(
            known, on=["subj", "pred", "obj"], how="left_anti"
        ).localCheckpoint(eager=True)
        known = known.unionByName(delta).localCheckpoint(eager=True)
    new_facts = known.join(initial, on=["subj", "pred", "obj"], how="left_anti")
    return known, new_facts
