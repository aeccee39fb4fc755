"""A SPARQL text front end for the BGP compiler (operators/bgp.py).

Parses a pragmatic SPARQL subset onto the programmatic API — the
query-language surface a reference user actually types, compiled to
the same Catalyst plans the compiler already plan-guards:

    [PREFIX ns: <iri> ...] before any form — registered ns:local
      names expand to iri+local everywhere (incl. inside path
      operators: ns:a|ns:b); unregistered colons (entity ids like
      e:E1) pass through untouched; <IRI> angle tokens are accepted
      as plain terms
    DESCRIBE entity
    SELECT [DISTINCT] (*|?var...|(FUNC([DISTINCT] ?v|*) AS ?alias)...
                       |(expr AS ?alias)...)
        WHERE { ... } [GROUP BY ?v...] [HAVING (expr)...]
        [ORDER BY (?v|(expr)|CALL(...)|ASC(expr)|DESC(expr))...]
        [LIMIT n] [OFFSET n] — expr is the one expression grammar
        below (e.g. HAVING (?n >= 15), ORDER BY DESC(STRLEN(?x)) ?x)
      aggregates: COUNT/SUM/AVG/MIN/MAX/SAMPLE/GROUP_CONCAT (SAMPLE
      = deterministic min; GROUP_CONCAT = sorted elements joined with
      "," or GROUP_CONCAT(?v, 'sep')); plain selected vars must be
      GROUP BY keys; SUM/AVG try_cast string bindings to double
      (non-numeric ignored — SPARQL's silent aggregation errors);
      (expr AS ?alias) projection expressions evaluate at group end
      (SPARQL Extend) and cannot mix with aggregates in one SELECT
    ASK [WHERE] { ... }
    CONSTRUCT { template } WHERE { ... }

Inside ``WHERE { }``:
    s p o .                      triple pattern (vars start with ?,
                                 anything else is a literal; 'quoted'
                                 or "quoted" literals may hold spaces;
                                 property paths in the predicate
                                 position: ``p+`` one-or-more, ``p*``
                                 zero-or-more (reflexive over all
                                 graph terms), ``p?`` zero-or-one
                                 (direct edges + the same reflexive
                                 rows, no closure), ``^p``
                                 inverse, ``a/b`` sequence, ``a|b``
                                 alternation, and in the predicate
                                 slot a parenthesized group
                                 ``(a|b)`` / ``(a|b)+`` / ``(a|b)*``
                                 / ``(a|b)?`` / ``^(a|b)`` — closure
                                 over the alternation's edge union
                                 (also reachable quoted:
                                 ``'(a|b)+'``) — and SEQUENCES mixing
                                 groups with plain steps:
                                 ``(a|b)/c``, ``a/(b|c)+``; negated
                                 property sets ``!p`` / ``!(a|b)``
                                 (no closure/sequence tail); an
                                 alternation branch that is a group of
                                 names flattens: ``(a|(b|c))`` is
                                 ``a|b|c``)
    OPTIONAL { ... }             left-join block (triple patterns,
                                 plus inner FILTER expressions scoped
                                 to the left join per SPARQL — a
                                 group row failing them does not
                                 extend; required rows survive with
                                 unbound variables)
    FILTER NOT EXISTS { ... }    anti-join block (triple patterns
                                 plus inner FILTER expressions; a
                                 filter naming an OUTER variable is
                                 the correlated form and compiles
                                 into the anti-join's ON condition —
                                 SPARQL substitution semantics)
    FILTER EXISTS { ... }        semi-join block (same body surface,
                                 correlated filters included)
    MINUS { ... }                SPARQL MINUS block (filters over the
                                 block's own variables only; per the
                                 spec its right side evaluates
                                 independently, so an outer-variable
                                 filter would match nothing — raises
                                 loudly instead)
    FILTER (expr)                a boolean expression; also a bare
                                 builtin call (FILTER CONTAINS(?x, 's'),
                                 FILTER BOUND(?v)) or FILTER !expr; a
                                 bare comparison (FILTER ?x = 1) raises
    BIND (expr AS ?v)            computed binding (a boolean expr
                                 binds a boolean, arithmetic a double)

    { A } UNION { B }            bag union of plain-triple branches,
                                 one chain per group; it compiles to
                                 one binding-set leg over every
                                 variable its branches bind and joins
                                 the group on the variables EVERY
                                 branch binds; branch-PRIVATE
                                 variables are NULL-filled in the
                                 non-binding branches (SPARQL unbound
                                 semantics; a FILTER/BIND over one
                                 sees the NULL) as long as nothing
                                 else in the group binds the same
                                 name (equality joins would drop the
                                 NULL rows — rename or bind in every
                                 branch); INSIDE a GRAPH block the
                                 branches scope to the literal graph
                                 or bind the GRAPH variable per row
    { SELECT ... }               subquery: compiled to its own
                                 DataFrame (aggregates/ORDER/LIMIT
                                 allowed inside) and joined into the
                                 outer chain on its projected vars
    VALUES ?v { lit lit ... }    inline binding list (In-predicate)
    VALUES (?a ?b) { (x y) ... } multi-variable binding TABLE, joined
                                 like a pattern leg (row-correlated,
                                 unlike per-var lists)
    GRAPH ?g|lit { ... }         quad scope: the block's body is a
                                 group of its own (every item above,
                                 incl. a UNION chain and literal-graph
                                 subqueries) compiled against its
                                 graph into one leg that joins the
                                 enclosing group on shared variables
                                 (the same ?g across two blocks = same
                                 graph per binding). Items outside the
                                 braces read the default graph, the
                                 union of all graphs.
                                 Per-edge path kinds (inverse,
                                 sequence, alternation, negated sets)
                                 bind a graph VARIABLE; closures
                                 (+ * ?) stay rejected under one
                                 (multi-hop closures would mix
                                 graphs)

Expressions — one grammar for FILTER, HAVING, BIND, (expr AS ?v),
ORDER BY keys and IF conditions, parsed into prefix ``(op, *args)``
nodes over ``?var``, string and number leaves and compiled by
``bgp._compile_expr``. Precedence, loosest first: ``||``, ``&&``, one
relational operator (``= == != < <= > >=``, ``IN (lit ...)``, ``NOT IN
(lit ...)``; IN values compare as stored strings), ``+ -``, ``* /``,
unary ``!``, then a primary: ``(expr)``, a builtin call, a ?var, a
quoted literal, a number or a bare word (a literal; one holding ``?``
raises — there is no unary minus). Operators need surrounding
whitespace. A comparison is numeric (both sides double
try_casts; a non-numeric value drops the row) when either side is a
number or a numeric expression (arithmetic, STRLEN, ABS, ROUND, FLOOR,
CEIL); otherwise it compares strings. Spark's three-valued NULL logic
reproduces SPARQL's error-propagation table (error||true=true,
error&&x=error). Builtins: BOUND(?v) (matched-OPTIONAL test; !BOUND
keeps the unmatched rows, the absent-fact idiom), CONTAINS, STRSTARTS,
STRENDS, REGEX(?x, pat[, flags]) (flags fold into the pattern as a
(?i)-style inline group), CONCAT, COALESCE (first non-NULL — the
OPTIONAL-default idiom), IF(cond, then, else) (a NULL/error condition
takes else), UCASE/LCASE/STRLEN/STR, SUBSTR(?x, start[, len])
(1-based), REPLACE(?x, pat, rep) (regex), ABS/ROUND/FLOOR/CEIL (double
try_casts; ROUND half-up like SPARQL), STRBEFORE/STRAFTER(?x, 'sep')
('' on no match, per spec). Arithmetic runs over double try_casts; a
zero divisor is an error (unbound), not an exception.

Every nested group — each GRAPH block, the UNION chain, each subquery
and each multi-var VALUES table — compiles to one binding-set leg in
``bgp_query(extra_legs=...)``; ``_common_kwargs`` is the one recursive
group compiler.

Not covered (use the programmatic API): nested non-subquery groups,
nested GRAPH blocks, subqueries inside a GRAPH **?variable** block
(a literal-graph block scopes its subqueries fine; a graph variable
would need per-graph re-evaluation — the parser accepts it and the
compiler raises), path groups nested past one alternation branch
(``(a|(b|(c|d)))``; quoted or not, they raise, as does an unmatched
paren), and a possibly-unbound column of a nested group whose NAME
something else in the group also binds: a
UNION branch-private variable, a variable only a GRAPH block's or a
subquery's OPTIONAL binds (at any depth of nesting — the set comes up
with each leg — unless a pattern, a VALUES list or another leg always
binds it), or a subquery's non-COUNT aggregate over one (needs a
null-tolerant compatible-join; the engine raises rather than silently
dropping the unbound rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from nametag3_spark.operators.bgp import _COMPARE, _EXPR_OPS, _is_var
from nametag3_spark.session import local_frame


class SparqlSyntaxError(ValueError):
    pass


def _tokenize(text: str) -> list[str]:
    toks: list[str] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c.isspace() or c == ",":  # commas read as whitespace (arg lists)
            i += 1
        elif c == "#":  # comment to end of line
            while i < n and text[i] != "\n":
                i += 1
        elif c.isdigit() or (
            c == "-" and i + 1 < n and text[i + 1].isdigit()
        ):
            # digit-led token: dots are PART of it (decimals, dotted
            # timestamps) — except a single trailing dot, which is the
            # triple terminator
            j = i + 1
            while (
                j < n
                and not text[j].isspace()
                and text[j] not in "{}#'\"(),<>=!"
            ):
                j += 1
            tok = text[i:j]
            if tok.endswith(".") and not tok.endswith(".."):
                toks.append(tok[:-1])
                toks.append(".")
            else:
                toks.append(tok)
            i = j
        elif c in "{}.()":
            toks.append(c)
            i += 1
        elif c == "<" and (
            (close := text.find(">", i + 1)) > i + 1
            and not any(ch.isspace() for ch in text[i + 1 : close])
            and text[i + 1] not in "<>=!"
        ):
            # <IRI> — whitespace-free angle-bracketed token, tagged
            # like a quoted literal so keywords never fire inside it
            toks.append("\x00" + text[i + 1 : close])
            i = close + 1
        elif c in "<>=!":  # comparison operators: maximal run (>=, !=)
            j = i
            while j < n and text[j] in "<>=!":
                j += 1
            toks.append(text[i:j])
            i = j
        elif c in "'\"":
            j = text.find(c, i + 1)
            if j < 0:
                raise SparqlSyntaxError(f"unterminated string at offset {i}")
            toks.append("\x00" + text[i + 1 : j])  # \x00 marks "literal"
            i = j + 1
        else:
            j = i
            while (
                j < n
                and not text[j].isspace()
                and text[j] not in "{}.#'\"(),<>=!"
            ):
                j += 1
            toks.append(text[i:j])
            i = j
    return toks


def _untag(tok: str) -> str:
    return tok[1:] if tok.startswith("\x00") else tok


def _is_quoted(tok: str) -> bool:
    return tok.startswith("\x00")


# the builtin call names: the expression operators spelled as words
_CALLS = frozenset(op for op in _EXPR_OPS if op.isalpha()) - {
    "and", "or", "not", "in",
}

_AGG_FNS = (
    "COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT",
)


class _Parser:
    def __init__(self, toks: list[str]):
        self.toks = toks
        self.pos = 0

    def peek(self) -> str | None:
        return self.toks[self.pos] if self.pos < len(self.toks) else None

    def next(self) -> str:
        tok = self.peek()
        if tok is None:
            raise SparqlSyntaxError("unexpected end of query")
        self.pos += 1
        return tok

    def expect(self, want: str) -> None:
        tok = self.next()
        if _untag(tok).upper() != want:
            raise SparqlSyntaxError(f"expected {want!r}, got {_untag(tok)!r}")

    def kw(self, word: str) -> bool:
        """Consume token if it equals the UNQUOTED keyword (case-insensitive)."""
        tok = self.peek()
        if tok is not None and not _is_quoted(tok) and tok.upper() == word:
            self.pos += 1
            return True
        return False

    def _next_is_select(self) -> bool:
        nxt = (
            self.toks[self.pos + 1] if self.pos + 1 < len(self.toks) else None
        )
        return (
            nxt is not None and not _is_quoted(nxt) and nxt.upper() == "SELECT"
        )

    # ---- grammar ------------------------------------------------------

    def term(self) -> str:
        """One subject/object term (never punctuation)."""
        tok = self.next()
        if not _is_quoted(tok) and tok in ("{", "}", ".", "(", ")"):
            raise SparqlSyntaxError(
                f"expected a term, got {tok!r} (triple needs 3 terms)"
            )
        return _untag(tok)

    def _path_group(self) -> str:
        """A parenthesized path group body after its ``(``: one
        alternation/predicate token, then ``)``. Prefix-expanded
        tokens arrive quoted and are accepted (the expansion
        angle-quotes IRIs, which the compiler treats as atomic)."""
        inner = self.next()
        if (not _is_quoted(inner)) and inner in ("{", "}", ".", "(", ")"):
            raise SparqlSyntaxError(
                f"expected a path inside (...), got {_untag(inner)!r}"
            )
        self.expect(")")
        return f"({_untag(inner)})"

    def pred_term(self) -> str:
        """One predicate term; additionally accepts PARENTHESIZED path
        groups — ``(a|b)``, ``(a|b)+``, ``(a|b)*``, ``(a|b)?``,
        inverse ``^(a|b)`` — and SEQUENCES mixing groups with plain
        steps (``(a|b)/c``, ``a/(b|c)+``), reassembled into the
        compiler's path form (previously only reachable by quoting
        the whole path: ``'(a|b)+/c'``). Nested groups stay
        unsupported (quote them or use the programmatic API)."""
        tok = self.next()
        if _is_quoted(tok):
            return _untag(tok)
        if tok == "^" and self.peek() == "(":
            self.next()
            path = "^" + self._path_group()
        elif tok == "!":
            # negated property set: !p / !(a|b) (the tokenizer splits
            # the operator run off the name, so reassemble)
            nxt = self.peek()
            if nxt is not None and not _is_quoted(nxt) and nxt == "(":
                self.next()
                path = "!" + self._path_group()
            elif (
                nxt is not None
                and not _is_quoted(nxt)
                and nxt not in ("{", "}", ".", ")")
            ):
                path = "!" + self.next()
            else:
                raise SparqlSyntaxError(
                    f"expected a predicate after '!', got {nxt!r}"
                )
            return path  # negated sets take no closure/sequence tail
        elif tok == "(":
            path = self._path_group()
        elif tok in ("{", "}", ".", ")"):
            raise SparqlSyntaxError(
                f"expected a term, got {tok!r} (triple needs 3 terms)"
            )
        else:
            path = tok
        # sequence / closure continuations: the tokenizer breaks at
        # parens, so "(a|b)+/c" arrives as  ( a|b ) +/c  and
        # "a/(b|c)" as  a/ ( b|c )
        while True:
            nxt = self.peek()
            if nxt is None or _is_quoted(nxt):
                break
            if (
                path.endswith(")")
                and nxt[0] in "+*?"
                and (len(nxt) == 1 or nxt[1] == "/")
            ):
                path += self.next()  # closure char (+ optional /rest)
            elif path.endswith("/") and nxt == "(":
                self.next()
                path += self._path_group()
            elif path.endswith(")") and nxt.startswith("/"):
                path += self.next()
            else:
                break
        if path.endswith("/"):
            raise SparqlSyntaxError(f"dangling sequence path: {path!r}")
        return path

    def triples(self) -> list[tuple[str, str, str]]:
        """Triple patterns until '}' (no nested blocks allowed here)."""
        out = []
        while self.peek() is not None and self.peek() != "}":
            out.append((self.term(), self.pred_term(), self.term()))
            if self.peek() == ".":
                self.next()
        return out

    def block(self) -> list[tuple[str, str, str]]:
        self.expect("{")
        t = self.triples()
        self.expect("}")
        if not t:
            raise SparqlSyntaxError("empty block")
        return t

    def optional_block(self, kind: str = "OPTIONAL"):
        """A sub-group body: triple patterns plus inner FILTER
        expressions. Used for OPTIONAL (filters scoped to the
        left-join per SPARQL), FILTER [NOT] EXISTS (filters evaluate
        inside the witness pattern) and MINUS (the right side
        evaluates independently, so its filters see only its own
        bindings) — see ``bgp_query``. Returns a plain pattern list
        when no filter is present (the back-compatible shape), else a
        ``{"patterns", "filters"}`` dict."""
        self.expect("{")
        pats: list[tuple[str, str, str]] = []
        flts: list[tuple] = []
        while self.peek() is not None and self.peek() != "}":
            if self.kw("FILTER"):
                flts.append(self.filter_expr())
            else:
                pats.append((self.term(), self.pred_term(), self.term()))
                if self.peek() == ".":
                    self.next()
        self.expect("}")
        if not pats:
            raise SparqlSyntaxError(f"empty {kind} group")
        return {"patterns": pats, "filters": flts} if flts else pats

    @staticmethod
    def _fresh_group() -> dict:
        return {
            "patterns": [],
            "optional": [],
            "not_exists": [],
            "exists": [],
            "minus": [],
            "binds": [],
            "filters": [],
            "subqueries": [],
            "values_rows": [],
            "union": None,
            "values": {},
            "graph_blocks": [],
        }

    def _group_item(self, out: dict, in_graph: bool) -> None:
        """Parse ONE group item into ``out``. A GRAPH block's body is
        a group of its own (``in_graph`` rejects a nested GRAPH),
        appended to ``out["graph_blocks"]`` as ``(term, group)``."""
        tok = self.peek()
        if self.kw("OPTIONAL"):
            out["optional"].append(self.optional_block())
        elif self.kw("FILTER"):
            if self.kw("NOT"):
                self.expect("EXISTS")
                out["not_exists"].append(self.optional_block("NOT EXISTS"))
            elif self.kw("EXISTS"):
                out["exists"].append(self.optional_block("EXISTS"))
            else:
                out["filters"].append(self.filter_expr())
        elif self.kw("MINUS"):
            out["minus"].append(self.optional_block("MINUS"))
        elif self.kw("BIND"):
            out["binds"].append(self.bind_clause())
        elif tok == "{" and self._next_is_select():
            # { SELECT ... } subquery: compiled to its own
            # DataFrame and joined into the chain on shared vars
            self.next()  # '{'
            if not self.kw("SELECT"):
                raise SparqlSyntaxError("expected SELECT in subquery")
            out["subqueries"].append(self.select_query())
            self.expect("}")
        elif tok == "{":
            # { A } UNION { B } [UNION { C } ...]
            branches = [self.block()]
            while self.kw("UNION"):
                branches.append(self.block())
            if len(branches) < 2:
                raise SparqlSyntaxError(
                    "a braced group must be part of a UNION"
                )
            if out["union"] is not None:
                raise SparqlSyntaxError(
                    "only one UNION chain per WHERE group"
                )
            out["union"] = branches
        elif self.kw("VALUES"):
            if self.peek() == "(":
                # multi-variable form: VALUES (?a ?b) { (x y) ... }
                self.next()
                vs: list[str] = []
                while self.peek() is not None and self.peek() != ")":
                    v = _untag(self.next())
                    if not v.startswith("?") or len(v) < 2:
                        raise SparqlSyntaxError(
                            f"VALUES needs ?vars, got {v!r}"
                        )
                    vs.append(v[1:])
                self.expect(")")
                if not vs:
                    raise SparqlSyntaxError("empty VALUES variable list")
                self.expect("{")
                rows: list[tuple] = []
                while self.peek() is not None and self.peek() != "}":
                    self.expect("(")
                    row = []
                    while self.peek() is not None and self.peek() != ")":
                        row.append(_untag(self.next()))
                    self.expect(")")
                    if len(row) != len(vs):
                        raise SparqlSyntaxError(
                            f"VALUES row width {len(row)} != "
                            f"{len(vs)} variables"
                        )
                    rows.append(tuple(row))
                self.expect("}")
                if not rows:
                    raise SparqlSyntaxError("empty VALUES row list")
                out["values_rows"].append((vs, rows))
            else:
                var = _untag(self.next())
                if not var.startswith("?"):
                    raise SparqlSyntaxError(
                        f"VALUES needs a ?var, got {var!r}"
                    )
                self.expect("{")
                lits = []
                while self.peek() is not None and self.peek() != "}":
                    lits.append(_untag(self.next()))
                self.expect("}")
                out["values"][var[1:]] = lits
        elif self.kw("GRAPH"):
            if in_graph:
                raise SparqlSyntaxError(
                    "nested GRAPH blocks are not supported"
                )
            term = _untag(self.next())
            blk = self.group(in_graph=True)
            if not blk["patterns"] and blk["union"] is None:
                raise SparqlSyntaxError("empty GRAPH block")
            out["graph_blocks"].append((term, blk))
        else:
            # plain triples until the next keyword/brace
            out["patterns"].append(
                (self.term(), self.pred_term(), self.term())
            )
            if self.peek() == ".":
                self.next()

    def group(self, in_graph: bool = False) -> dict:
        """A WHERE group (or a GRAPH block's body): its items as
        bgp_query kwargs, nested groups kept nested for the compiler."""
        out = self._fresh_group()
        self.expect("{")
        while True:
            tok = self.peek()
            if tok is None:
                raise SparqlSyntaxError("unterminated group (missing '}')")
            if tok == "}":
                self.next()
                return out
            self._group_item(out, in_graph)

    def select_query(self) -> dict:
        """The SELECT form AFTER its keyword was consumed: select
        list, WHERE group, GROUP BY/HAVING, solution modifiers —
        reused verbatim for ``{ SELECT ... }`` subqueries (the closing
        outer ``}`` naturally ends the modifier loop)."""
        distinct = self.kw("DISTINCT")
        select: list[str] | None
        aggs: list[tuple[str, str, str]] = []
        expr_selects: list[tuple] = []
        if self.peek() == "*":
            self.next()
            select = None
        else:
            select = []
            while True:
                tok = self.peek()
                if tok is None or _is_quoted(tok):
                    break
                if tok.startswith("?"):
                    select.append(self.next()[1:])
                elif tok == "(":
                    # disambiguate by lookahead: '( FUNC (' with an
                    # aggregate FUNC is an aggregate item, anything
                    # else is a projection expression '( expr AS ?a )'
                    # — the BIND clause verbatim
                    nxt = (
                        self.toks[self.pos + 1]
                        if self.pos + 1 < len(self.toks)
                        else None
                    )
                    nxt2 = (
                        self.toks[self.pos + 2]
                        if self.pos + 2 < len(self.toks)
                        else None
                    )
                    if (
                        nxt is not None
                        and not _is_quoted(nxt)
                        and nxt.upper() in _AGG_FNS
                        and nxt2 == "("
                    ):
                        aggs.append(self.agg_item())
                    else:
                        e, alias = self.bind_clause()
                        expr_selects.append((e, alias))
                        select.append(alias)
                else:
                    break
            if not select and not aggs:
                raise SparqlSyntaxError("SELECT needs '*', ?vars or (AGG...)")
        self.expect("WHERE")
        g = self.group()
        if expr_selects:
            if aggs:
                raise SparqlSyntaxError(
                    "SELECT expressions cannot mix with aggregates "
                    "(project the aggregate, BIND afterwards in an "
                    "outer query)"
                )
            # a projection expression IS a BIND evaluated at group end
            # (SPARQL 18.2.4.4 Extend): it may reference group BIND
            # aliases and its alias must be fresh — both enforced by
            # the engine's bind chain
            g["binds"] = (g["binds"] or []) + expr_selects
        group_by: list[str] = []
        if self.kw("GROUP"):
            self.expect("BY")
            while self.peek() is not None and self.peek().startswith("?"):
                group_by.append(self.next()[1:])
            if not group_by:
                raise SparqlSyntaxError("GROUP BY needs at least one ?var")
        having: list[tuple] = []
        while self.kw("HAVING"):
            having.append(self.filter_expr())
        if having and not aggs:
            raise SparqlSyntaxError("HAVING needs aggregates in SELECT")
        if aggs:
            if select is None:
                raise SparqlSyntaxError("SELECT * cannot mix with aggregates")
            stray = [v for v in select if v not in group_by]
            if stray:
                raise SparqlSyntaxError(
                    f"non-aggregated SELECT vars must be in GROUP BY: {stray}"
                )
        elif group_by:
            raise SparqlSyntaxError("GROUP BY without aggregates in SELECT")
        order, limit, offset = self.modifiers()
        return {
            "form": "select",
            "select": select,
            "distinct": distinct,
            "aggs": aggs,
            "group_by": group_by,
            "having": having,
            "order": order,
            "limit": limit,
            "offset": offset,
            **g,
        }

    def agg_item(self) -> tuple[str, str, str]:
        """``( FUNC([DISTINCT] ?v|*) AS ?alias )`` in the SELECT list
        → an engine ``(func, var, alias)`` triple. FUNC: COUNT, SUM,
        AVG, MIN, MAX; ``COUNT(DISTINCT ?v)`` → ``count_distinct``."""
        self.expect("(")
        fn_tok = self.next()
        fn = _untag(fn_tok).upper()
        if _is_quoted(fn_tok) or fn not in _AGG_FNS:
            raise SparqlSyntaxError(f"unsupported aggregate: {_untag(fn_tok)!r}")
        func = fn.lower()
        self.expect("(")
        if self.kw("DISTINCT"):
            if func != "count":
                raise SparqlSyntaxError("DISTINCT only inside COUNT(...)")
            func = "count_distinct"
        var = _untag(self.next())
        if var != "*" and not var.startswith("?"):
            raise SparqlSyntaxError(f"aggregate needs ?var or *, got {var!r}")
        if var == "*" and func != "count":
            raise SparqlSyntaxError(f"only COUNT may aggregate '*', not {fn}")
        sep = None
        if (
            func == "group_concat"
            and self.peek() is not None
            and self.peek() != ")"
        ):
            # pragmatic separator form: GROUP_CONCAT(?v, 'sep') — the
            # tokenizer reads commas as whitespace and the separator
            # must be quoted (SPARQL's SEPARATOR= keyword syntax needs
            # ';' tokenization the term grammar doesn't reserve)
            sep_tok = self.next()
            if not _is_quoted(sep_tok):
                raise SparqlSyntaxError(
                    "GROUP_CONCAT separator must be a quoted literal, "
                    f"got {_untag(sep_tok)!r}"
                )
            sep = _untag(sep_tok)
        self.expect(")")
        self.expect("AS")
        alias = _untag(self.next())
        if not alias.startswith("?"):
            raise SparqlSyntaxError(f"AS needs a ?alias, got {alias!r}")
        self.expect(")")
        if sep is not None:
            return (func, var, alias[1:], sep)
        return (func, var, alias[1:])

    def modifiers(self) -> tuple[list[tuple[str, bool]], int | None, int | None]:
        """Solution modifiers after the WHERE group: ORDER BY keys
        (``?v``, a bracketed expression or builtin call, ``ASC(expr)``,
        ``DESC(expr)``)..., LIMIT n, OFFSET n — LIMIT/OFFSET accepted
        in either order."""
        order: list[tuple[str, bool]] = []
        limit: int | None = None
        offset: int | None = None

        def _int(what: str) -> int:
            tok = self.next()
            try:
                v = int(tok)
            except ValueError:
                raise SparqlSyntaxError(f"{what} needs an integer, got {tok!r}")
            if v < 0:
                raise SparqlSyntaxError(f"{what} must be non-negative")
            return v

        while True:
            if self.kw("ORDER"):
                self.expect("BY")
                saw = False
                while True:
                    # a key: ASC(expr) / DESC(expr), or a bare ?var,
                    # bracketed expression or builtin call (ascending)
                    tok = self.peek()
                    if tok is None or _is_quoted(tok):
                        break
                    if tok.upper() in ("ASC", "DESC"):
                        asc = self.next().upper() == "ASC"
                        self.expect("(")
                        key = self.expr()
                        self.expect(")")
                    elif tok.startswith("?") or tok == "(" or (
                        tok.lower() in _CALLS
                    ):
                        asc, key = True, self._primary()
                    else:
                        break
                    # a plain ?var keeps the (name, asc) spec shape
                    order.append((
                        key[1:] if isinstance(key, str) and key.startswith("?")
                        else ("expr", key),
                        asc,
                    ))
                    saw = True
                if not saw:
                    raise SparqlSyntaxError("ORDER BY needs at least one ?var")
            elif self.kw("LIMIT"):
                limit = _int("LIMIT")
            elif self.kw("OFFSET"):
                offset = _int("OFFSET")
            else:
                return order, limit, offset

    def bind_clause(self) -> tuple:
        """``BIND ( expr AS ?alias )`` → an engine ``(expr, alias)``
        pair (``expr`` is the one expression grammar)."""
        self.expect("(")
        e = self.expr()
        self.expect("AS")
        alias = _untag(self.next())
        if not alias.startswith("?") or len(alias) < 2:
            raise SparqlSyntaxError(f"BIND ... AS needs a ?alias, got {alias!r}")
        self.expect(")")
        return (e, alias[1:])

    def _op(self, *ops: str) -> str | None:
        """Consume and return the next token if it is one of the
        unquoted operators ``ops``."""
        tok = self.peek()
        if tok is not None and not _is_quoted(tok) and tok in ops:
            return self.next()
        return None

    def expr(self):
        """One expression (SPARQL 1.1 §17) → a prefix ``(op, *args)``
        node over ``?var``, string and number leaves: FILTER, HAVING,
        BIND, ``(expr AS ?v)``, ORDER BY keys and IF conditions all
        parse here. Precedence, loosest first: ``||``, ``&&``, one
        relational ``= == != < <= > >= IN NOT IN``, ``+ -``, ``* /``,
        unary ``!``, then a primary (a bracketed expression, a builtin
        call or a term). Operators need surrounding whitespace."""
        return self._n_ary("or", "||", self._and)

    def _n_ary(self, name: str, tok: str, operand):
        parts = [operand()]
        while self._op(tok):
            parts.append(operand())
        return parts[0] if len(parts) == 1 else (name, *parts)

    def _and(self):
        return self._n_ary("and", "&&", self._relational)

    def _relational(self):
        left = self._additive()
        op = self._op(*_COMPARE)
        if op:
            return (op, left, self._additive())
        negate = self.kw("NOT")
        if not self.kw("IN"):
            if negate:
                raise SparqlSyntaxError("expected IN after NOT")
            return left
        self.expect("(")
        lits: list[str] = []
        while self.peek() is not None and self.peek() != ")":
            lits.append(_untag(self.next()))  # numerics stay strings
        self.expect(")")
        if not lits:
            raise SparqlSyntaxError("empty IN list")
        node = ("in", left, tuple(lits))
        return ("not", node) if negate else node

    def _additive(self):
        node = self._multiplicative()
        while op := self._op("+", "-"):
            node = (op, node, self._multiplicative())
        return node

    def _multiplicative(self):
        node = self._unary()
        while op := self._op("*", "/"):
            node = (op, node, self._unary())
        return node

    def _unary(self):
        if self._op("!"):
            return ("not", self._unary())
        return self._primary()

    def _primary(self):
        tok = self.next()
        if _is_quoted(tok):
            return _untag(tok)
        if tok == "(":
            node = self.expr()
            self.expect(")")
            return node
        name = tok.lower()
        if name in _CALLS and self.peek() == "(":
            self.next()
            args = []
            while self.peek() != ")":
                if self.peek() is None:
                    raise SparqlSyntaxError("unterminated expression")
                args.append(self.expr())
            self.next()  # ')'
            if name == "bound" and (len(args) != 1 or not _is_var(args[0])):
                raise SparqlSyntaxError(f"BOUND needs a ?var, got {args!r}")
            if name == "regex" and len(args) == 3:
                # flags fold into a literal pattern as a Java inline group
                pat, flags = args[1], args.pop()
                if not (isinstance(flags, str) and set(flags or "-") <= set("ismx")):
                    raise SparqlSyntaxError(f"unsupported REGEX flags: {flags!r}")
                if not isinstance(pat, str) or _is_var(pat):
                    raise SparqlSyntaxError(
                        f"REGEX flags need a literal pattern, got {pat!r}"
                    )
                args[1] = f"(?{flags}){pat}"
            return (name, *args)
        if tok in ("{", "}", ".", ")"):
            raise SparqlSyntaxError(f"expected an expression, got {tok!r}")
        if tok.startswith("?"):
            return tok
        if "?" in tok:
            # e.g. -?a: read as a literal it would silently match nothing
            raise SparqlSyntaxError(
                f"unsupported term {tok!r} (no unary minus: write 0 - ?a; "
                "quote a literal holding '?')"
            )
        try:
            return int(tok)
        except ValueError:
            try:
                return float(tok)
            except ValueError:
                return tok  # plain unquoted literal

    def filter_expr(self):
        """A FILTER / HAVING constraint: SPARQL's bracketed expression
        or builtin call — ``FILTER (?x > 3 && !BOUND(?w))``,
        ``FILTER CONTAINS(?x, 'lit')`` — or a leading ``!``. A bare
        comparison (``FILTER ?x = bob``) raises."""
        tok = self.peek()
        if tok is None or _is_quoted(tok) or not (
            tok in ("(", "!") or tok.lower() in _CALLS
        ):
            raise SparqlSyntaxError(
                "FILTER needs (...), a builtin call such as BOUND(...) or "
                f"CONTAINS(...), or !...; got {tok!r}"
            )
        return self._unary()


def parse(query: str) -> dict:
    """Parse to an execution spec: {form, select, distinct, template,
    **group-kwargs}. ``form`` is 'select' | 'ask' | 'construct'."""
    p = _Parser(_tokenize(query))
    # PREFIX ns: <iri> headers: expand registered ns:local tokens to
    # iri+local IN PLACE (tagged as literals so keywords never fire).
    # Unregistered colon-bearing tokens (entity ids like e:E1) pass
    # through untouched.
    prefixes: dict[str, str] = {}
    while p.kw("PREFIX"):
        name = _untag(p.next())
        if not name.endswith(":") or len(name) < 2:
            raise SparqlSyntaxError(f"PREFIX needs 'ns:', got {name!r}")
        iri_tok = p.next()
        prefixes[name] = _untag(iri_tok)
    if prefixes:
        import re as _re

        def _sub(m):
            ns = m.group(1) + ":"
            if ns in prefixes:
                # angle-quote the expanded name: IRIs contain the path
                # operator characters (/ |), and the engine treats
                # <...> as atomic
                return "<" + prefixes[ns] + m.group(2) + ">"
            return m.group(0)

        pat = _re.compile(r"([A-Za-z][\w.-]*):([\w.-]+)")
        lone = _re.compile(r"<[^<>]*>")
        for idx in range(p.pos, len(p.toks)):
            tok = p.toks[idx]
            if _is_quoted(tok) or ":" not in tok or tok.startswith("?"):
                continue
            expanded = pat.sub(_sub, tok)
            if expanded != tok:
                if lone.fullmatch(expanded):
                    # a single name (subj/obj positions compare it to
                    # plain stored values): drop the quoting again
                    expanded = expanded[1:-1]
                p.toks[idx] = "\x00" + expanded
    if p.kw("SELECT"):
        spec = p.select_query()
    elif p.kw("DESCRIBE"):
        ent_tok = p.next()
        spec = {"form": "describe", "entity": _untag(ent_tok)}
    elif p.kw("ASK"):
        p.kw("WHERE")  # optional keyword
        g = p.group()
        spec = {"form": "ask", **g}
    elif p.kw("CONSTRUCT"):
        template = p.block()
        p.expect("WHERE")
        g = p.group()
        spec = {"form": "construct", "template": template, **g}
    else:
        raise SparqlSyntaxError(
            f"query must start with SELECT/ASK/CONSTRUCT, got {p.peek()!r}"
        )
    if p.peek() is not None:
        raise SparqlSyntaxError(f"trailing tokens after query: {p.peek()!r}")
    return spec


# bgp_query/bgp_union keywords an engine_kwargs mapping may carry; the
# first three are all DESCRIBE reads
_ENGINE_KEYS = (
    "subj_col", "pred_col", "obj_col", "graph_col", "path_depth", "pred_stats",
)


def _union_branch_vars(patterns: list[tuple[str, str, str]]) -> set[str]:
    return {
        t[1:]
        for pat in patterns
        for t in pat
        if isinstance(t, str) and t.startswith("?") and len(t) > 1
    }


def _block_vars(block) -> set[str]:
    """The variables of an OPTIONAL/MINUS/EXISTS block (a pattern list
    or a ``{"patterns", "filters"}`` dict)."""
    return _union_branch_vars(
        block["patterns"] if isinstance(block, dict) else block
    )


def _union_vars(
    branches: list, graph: str | None
) -> tuple[list[str], set[str]]:
    """Every variable a UNION chain binds (sorted) and the branch-
    PRIVATE ones: bound by some branch but not by every one. A GRAPH
    variable is bound by every branch (the per-branch graph kwarg
    forces it)."""
    g = {graph[1:]} if graph is not None and graph.startswith("?") else set()
    var_sets = [_union_branch_vars(b) | g for b in branches]
    every = set.union(*var_sets)
    return sorted(every), every - set.intersection(*var_sets)


def _leg_unbound(spec: dict, unbound: set[str], leg: DataFrame) -> set[str]:
    """The columns of a nested group's leg (a GRAPH block or a
    subquery) that some rows may leave unbound, i.e. NULL: the group's
    possibly-unbound variables (``_common_kwargs``) it projects, and
    for an aggregate subquery the aliases of non-COUNT aggregates over
    one of them (an all-NULL group aggregates to NULL)."""
    maybe = unbound | {
        a[2]
        for a in spec.get("aggs") or []
        if a[0] not in ("count", "count_distinct") and a[1][1:] in unbound
    }
    return maybe & set(leg.columns)


def _union_leg(
    triples: DataFrame,
    branches: list,
    engine_kwargs: dict,
    graph: str | None,
) -> tuple[DataFrame, set[str]]:
    """Compile a UNION chain into ONE binding-set DataFrame over every
    variable its branches bind, so it joins the rest of the group like
    any other leg. Branch-private variables ride along NULL-filled in
    the branches that do not bind them (SPARQL's unbound-in-this-branch
    semantics) and are returned with the leg, so ``_common_kwargs`` can
    keep them off the join keys."""
    from nametag3_spark.operators.bgp import bgp_union

    every, private = _union_vars(branches, graph)
    leg = bgp_union(
        triples,
        branches,
        select=every,
        allow_partial=bool(private),
        graph=graph,
        **{k: v for k, v in engine_kwargs.items() if k in _ENGINE_KEYS},
    )
    return leg, private


def _common_kwargs(
    spec: dict,
    engine_kwargs: dict,
    triples: DataFrame,
    graph: str | None = None,
) -> tuple[dict, set[str]]:
    """A group's bgp_query kwargs, and the variables some of its rows
    may leave unbound. Every nested group becomes one binding-set leg
    in ``extra_legs``: each subquery, each multi-var VALUES table, each
    GRAPH block and the UNION chain. A GRAPH block compiles
    recursively as ``bgp_query`` over its own group with
    ``graph=term``, so what sits inside its braces reads that graph and
    what sits outside reads the enclosing scope (the default graph is
    the union of all graphs). A leg's possibly-unbound columns come up
    with it at every depth, so a clash raises however deep the
    NULL-able column was bound."""
    from pyspark.sql import functions as F

    from nametag3_spark.operators.bgp import bgp_query

    common = dict(
        optional=spec["optional"] or None,
        not_exists=spec["not_exists"] or None,
        exists=spec["exists"] or None,
        minus=spec["minus"] or None,
        binds=spec["binds"] or None,
        filters=spec["filters"] or None,
        values=spec["values"] or None,
        graph=graph,
        **engine_kwargs,
    )
    sub_src = triples
    if spec["subqueries"] and graph is not None:
        # a subquery inside a literal GRAPH block compiles against the
        # quad store filtered to that graph (the filter pushes into its
        # scans). A GRAPH ?var would need the subquery re-run per graph
        # with ?var joined through — not one pre-filter — so it raises.
        if graph.startswith("?"):
            raise SparqlSyntaxError(
                "subqueries inside GRAPH require a literal graph term "
                "(GRAPH ?var would need per-graph re-evaluation); name "
                "the graph or move the subquery outside the block"
            )
        gcol = engine_kwargs.get("graph_col", "graph")
        sub_src = triples.where(F.col(gcol) == F.lit(graph))
    # (leg, the columns it may leave unbound, i.e. NULL)
    legs: list[tuple[DataFrame, set[str]]] = []
    for sub in spec["subqueries"]:
        if graph is not None and sub["graph_blocks"]:
            raise SparqlSyntaxError(
                "a subquery inside a GRAPH block cannot itself use "
                "GRAPH (the outer block already fixes the scope)"
            )
        legs.append(_select_leg(sub_src, sub, engine_kwargs))
    for vs, rows in spec["values_rows"]:
        legs.append((
            local_frame(
                triples.sparkSession, rows, ", ".join(f"{v} string" for v in vs)
            ),
            set(),
        ))
    for term, blk in spec["graph_blocks"]:
        blk_kwargs, blk_unbound = _common_kwargs(
            blk, engine_kwargs, triples, graph=term
        )
        leg = bgp_query(triples, blk["patterns"], **blk_kwargs)
        legs.append((leg, _leg_unbound(blk, blk_unbound, leg)))
    if spec["union"] is not None:
        legs.append(_union_leg(triples, spec["union"], engine_kwargs, graph))
    # A leg's possibly-unbound variable survives as a NULL column —
    # legal only while nothing ELSE in the group binds the same name
    # (the equality join would drop the NULL rows where SPARQL's
    # compatible-join keeps them). Conservatively count OPTIONAL/MINUS/
    # EXISTS block vars, BIND aliases and VALUES lists.
    mentioned = (
        _union_branch_vars(spec["patterns"])
        | {alias for _e, alias in spec["binds"]}
        | set(spec["values"])
    )
    for block in (
        spec["optional"] + spec["minus"] + spec["not_exists"] + spec["exists"]
    ):
        mentioned |= _block_vars(block)
    for i, (_leg, unbound) in enumerate(legs):
        others = mentioned.union(
            *(leg.columns for j, (leg, _u) in enumerate(legs) if j != i)
        )
        clash = sorted(unbound & others)
        if clash:
            raise SparqlSyntaxError(
                f"variable(s) {['?' + c for c in clash]} may be unbound "
                "in a nested group (UNION branch-private, or OPTIONAL-"
                "only inside a GRAPH block or subquery) and are also "
                "bound elsewhere in the group — an equality join would "
                "drop the rows where the variable is unbound (SPARQL "
                "compatible-join); bind them in every branch / outside "
                "the OPTIONAL, or rename"
            )
    if legs:
        common["extra_legs"] = [leg for leg, _u in legs]
    # the group's possibly-unbound variables: what its legs may leave
    # unbound, plus (conservatively) what only its OPTIONAL blocks bind
    # — unless a pattern, a VALUES list or a leg's bound column always
    # binds it (VALUES filters drop the NULL rows)
    always = (
        _union_branch_vars(spec["patterns"])
        | set(spec["values"])
        | set().union(*(set(leg.columns) - u for leg, u in legs))
    )
    unbound = set().union(*(u for _leg, u in legs)) | (
        set().union(*(_block_vars(g) for g in spec["optional"])) - always
    )
    return common, unbound


def _select_leg(
    triples: DataFrame, spec: dict, engine_kwargs: dict
) -> tuple[DataFrame, set[str]]:
    """A parsed SELECT spec → a DataFrame (recursive via subqueries),
    with the columns some of its rows may leave unbound."""
    from pyspark.sql import functions as F

    from nametag3_spark.operators.bgp import bgp_aggregate, bgp_query

    common, unbound = _common_kwargs(spec, engine_kwargs, triples)
    if spec["aggs"]:
        out = bgp_aggregate(
            triples,
            spec["patterns"],
            group_by=spec["group_by"],
            aggs=spec["aggs"],
            having=spec["having"] or None,
            **common,
        )
        # projection order: as written in the SELECT list is not
        # tracked; selected group vars first, then aggregate aliases.
        # SELECT may name a strict SUBSET of the GROUP BY keys (SPARQL
        # allows grouping finer than the projection), in which case the
        # projected rows can repeat — SELECT DISTINCT then deduplicates
        # them (18.2.5.2 Distinct applies AFTER aggregation/projection).
        out = out.select(*spec["select"], *[a[2] for a in spec["aggs"]])
        if spec["distinct"]:
            out = out.dropDuplicates()
    else:
        out = bgp_query(
            triples,
            spec["patterns"],
            select=spec["select"],
            distinct=spec["distinct"],
            **common,
        )
    if spec["order"]:
        from nametag3_spark.operators.bgp import _compile_expr

        bound = frozenset(out.columns)
        keys = []
        for v, asc in spec["order"]:
            col = (
                _compile_expr(bound, v[1])
                if isinstance(v, tuple)  # ("expr", node) sort key
                else F.col(v)
            )
            keys.append(col.asc() if asc else col.desc())
        out = out.orderBy(*keys)
    if spec["offset"] is not None:
        out = out.offset(spec["offset"])
    if spec["limit"] is not None:
        out = out.limit(spec["limit"])
    return out, _leg_unbound(spec, unbound, out)


def execute(triples: DataFrame, query: str, **engine_kwargs):
    """Parse and run against a triple (or quad) DataFrame. Returns a
    DataFrame for SELECT/CONSTRUCT, a bool for ASK. ``engine_kwargs``
    pass through to the compiler (path_depth, column names, ...)."""
    from nametag3_spark.operators.bgp import ask, construct

    spec = parse(query)
    if spec["form"] == "describe":
        from nametag3_spark.operators.bgp import describe

        return describe(
            triples,
            spec["entity"],
            **{k: v for k, v in engine_kwargs.items() if k in _ENGINE_KEYS[:3]},
        )
    if spec["form"] == "select":
        return _select_leg(triples, spec, engine_kwargs)[0]
    common, _unbound = _common_kwargs(spec, engine_kwargs, triples)
    if spec["form"] == "ask":
        return ask(triples, spec["patterns"], **common)
    return construct(triples, spec["patterns"], spec["template"], **common)
