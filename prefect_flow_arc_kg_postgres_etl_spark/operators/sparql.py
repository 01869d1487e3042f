"""SPARQL text -> Spark SQL text compiler: run the reference's OWN query files.

The reference executes hand-written SPARQL CONSTRUCT files against its
quad store (typescript/queries/*.sparql via 1_kg_view_construct.ts).
This module is the repo's one SPARQL evaluator: a tokenizer +
recursive-descent parser for the grammar subset those production
files use (and the registry's own KG entries), lowered to Spark SQL
text over the (subject, predicate, object, lang, graph) quad schema
shared with ``triples.melt`` (S2RDF's approach: SPARQL on Spark as SQL).

Grammar surface (everything person.sparql and organization.sparql use):
  PREFIX prologue; CONSTRUCT template (predicate-object lists, ``a``,
  literals); FROM dataset clauses; GROUP patterns with nested GRAPH
  (constant or variable term), OPTIONAL (nested, with inner FILTER and
  BIND), group UNION (including the ``{} UNION {..}`` identity-branch
  idiom), FILTER, FILTER [NOT] EXISTS, MINUS, BIND .. AS, VALUES
  (single-var and row form);
  property paths: sequence ``/``, alternation ``|``, inverse ``^``,
  parenthesized combinations; expressions: ``|| && ! = != < > <= >=``,
  ``IN ( .. )``, BOUND, COALESCE, CONCAT, IRI/URI, STR, MD5, REPLACE
  (regex), IF, LANG, LANGMATCHES, STRSTARTS, STRENDS, CONTAINS, UCASE,
  LCASE, STRLEN, SUBSTR; literals with language tags and ``^^``
  datatypes (datatype annotations are carried as plain strings — the
  store is string-typed).

Compilation model (Spark-first, no UDFs anywhere):
- Every unit — pattern scan, star pivot, fused UNION scan, join,
  OPTIONAL, UNION, MINUS, [NOT] EXISTS, BIND, FILTER, VALUES (an
  inline table), sub-SELECT, the CONSTRUCT template — is the text of
  one SELECT (``_Rel``), nested into its parent's FROM clause. One
  expression renderer (``_Eval.expr``) turns SPARQL expressions into
  SQL expressions.
- Parameter binding: every SPARQL literal, IRI and injected parameter
  (``?since``) is a named ``args=`` parameter, referenced in the text
  only as ``:pN`` — never spliced — and identifiers are backtick-quoted,
  so no value can change the statement.
- Segments: the text is compiled in segments. A segment ends only at a
  lineage truncation point (``_truncate_lineage``: every star pivot,
  every ``_TRUNCATE_EVERY`` accumulator folds, and an accumulator a
  UNION embeds more than once). Each segment compiles with ONE
  ``spark.sql(text, args=..., **frames)`` — Catalyst analyses and
  optimizes it in one pass, where the DataFrame builder paid a py4j
  round trip and a re-analysis per call — and its checkpoint enters the
  next segment as a frame argument ``{fN}``, as the store enters as
  ``{quads}``. Closure paths (``triples.transitive_closure``) are
  DataFrame code and enter the text as frame arguments too.
- Each triple pattern is a predicate/graph-pruned scan of the quads;
  with a predicate-partitioned store layout those filters prune at the
  source.
- Solution sets have one column per bound variable plus a hidden
  ``<var>__lang`` column for object bindings (language-tagged literal
  equality is (value, lang) TERM equality, joined null-safely).
- Group sequence = fold of equi-joins on shared variables (inside a
  BGP every variable is non-null, so hash equi-joins are exact SPARQL
  join semantics).
- UNION distributes over the pending join — Join(acc, Union(b1..bn)) is
  evaluated as Union_i(Join(acc, b_i)), which keeps every branch an
  equi-join (no null-matching theta join) and makes the empty-group
  branch ``{}`` literally the accumulator itself. Branch-missing
  variables are NULL, exactly SPARQL's unbound.
- OPTIONAL = left equi-join on shared variables; the group's FILTERs
  over variables it does not certainly bind are the LeftJoin
  condition. A single-triple OPTIONAL on a star's subject joins the
  star's pivot, with its own-variable FILTERs inside the member's
  condition.
- Property-path alternation over sequences expands to a per-pattern
  union of rewrites; sequences thread fresh internal variables
  (dropped before joining); inverse swaps roles.
- FILTERs collect per group and apply at group end (SPARQL scoping);
  Catalyst pushes the conjuncts back below the joins where legal.
  ``FILTER [NOT] EXISTS`` is a filter too: wherever it is written, it
  runs at group end as a semi (anti) join on the variables its group
  shares with the solutions, and a group sharing none is refused.
- MINUS applies where it is written (it is a join operator, not a
  filter): an anti join on the shared variables; a MINUS group sharing
  no variable removes nothing (§8.3's disjoint-domain identity).
  For EXISTS and MINUS alike, a shared variable that may be unbound
  matches compatibly (unbound matches anything); the others stay hash
  join keys.
- A VALUES list narrows the scans of its own group's BGP that bind
  its variable (``object IN (..)`` in the scan filter) before the
  VALUES join runs.
- CONSTRUCT emits every template triple of a solution in one
  ``inline(array(struct ..))`` pass (rows with any unbound term are
  skipped, per spec) into a DISTINCT triple set — one shuffle.

Query forms: CONSTRUCT (``construct_query``) plus SELECT and ASK
(``select_query``): projection vars, ``(expr AS ?v)``, aggregates
(COUNT[ DISTINCT]/SUM/MIN/MAX/AVG, COUNT(*)), DISTINCT, GROUP BY,
ORDER BY ASC()/DESC(), LIMIT/OFFSET; ASK emits a one-row string
boolean; DESCRIBE (``describe_query``, outgoing-arc closure depth 1 —
the ``plans.kg.kg_describe`` contract). SPARQL 1.1 UPDATE
(``update_delta`` / ``update_apply``): INSERT DATA, DELETE DATA,
DELETE WHERE, DELETE..INSERT..WHERE with optional WITH graph and
GRAPH blocks in templates — lowered to whole-quad null-safe semi/anti
hash joins against the store, solution set computed once.

Closure property paths ``p+`` / ``p*`` / ``p?`` (postfix modifiers,
composable with ``/ | ^`` and constant graph scoping) lower to the
pointer-doubling ``triples.transitive_closure`` operator — the inner
path evaluates to an edge DataFrame through the normal BGP machinery,
closure is ceil(log2(depth)) keyed self-joins of the PAIR set, and
``p*``'s identity set is the edge endpoints (the A28b contract).

Subqueries (``{ SELECT ... }`` inside WHERE, evaluated once and joined
on the projected variables), HAVING (aggregate calls hoisted into
hidden columns of the same single aggregation) and blank-node property
lists (``[ p o ; ... ]``, existentials lowered to fresh variables) are
supported beyond the reference surface.

Unsupported (not used by the reference files): closure modifiers
nested INSIDE a sequence/alternation (``(a+/b)``; top-level closure
over any seq/alt/inverse body is supported), VALUES inside a
subselect projection, and lang tags surviving subselect projection
(outer joins on projected vars are value equality). EXISTS
substitutes a solution's bindings into its group; here the group is
evaluated once and matched compatibly, which differs only where the
substituted value would change what an OPTIONAL or FILTER inside the
EXISTS group matches.
"""

from __future__ import annotations

import itertools
import os
import re
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicFrame

from prefect_flow_arc_kg_postgres_etl_spark.session import MISS, AppLRU

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

# ---------------------------------------------------------------------------
# Tokenizer

_TOKEN_RE = re.compile(
    r"""
    (?P<COMMENT>\#[^\n]*)
  | (?P<IRIREF><[^<>"{}|^`\\\s]*>)
  | (?P<VAR>[?$][A-Za-z_][A-Za-z0-9_]*)
  | (?P<STRING>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
  | (?P<LANGTAG>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
  | (?P<DTYPE>\^\^)
  | (?P<PNAME>[A-Za-z_][A-Za-z0-9_\-]*?:[A-Za-z0-9_\-\.]*[A-Za-z0-9_\-]|[A-Za-z_][A-Za-z0-9_\-]*:|:[A-Za-z0-9_\-\.]*[A-Za-z0-9_\-]|:)
  | (?P<NUMBER>[+-]?\d+(?:\.\d+)?)
  | (?P<NAME>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<OP>\|\||&&|!=|<=|>=|[{}();,.|/^!=<>*+?\[\]])
  | (?P<WS>\s+)
    """,
    re.VERBOSE,
)

_ESCAPES = {
    "\\\\": "\\", '\\"': '"', "\\n": "\n", "\\t": "\t", "\\r": "\r",
}


def _unescape(raw: str) -> str:
    out, i = [], 0
    while i < len(raw):
        two = raw[i : i + 2]
        if two in _ESCAPES:
            out.append(_ESCAPES[two])
            i += 2
        else:
            out.append(raw[i])
            i += 1
    return "".join(out)


@dataclass(frozen=True)
class Tok:
    kind: str
    text: str


def tokenize(text: str) -> list[Tok]:
    toks: list[Tok] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise SyntaxError(f"SPARQL tokenizer stuck at: {text[pos:pos+40]!r}")
        pos = m.end()
        kind = m.lastgroup or ""
        if kind in ("WS", "COMMENT"):
            continue
        toks.append(Tok(kind, m.group()))
    return toks


# ---------------------------------------------------------------------------
# AST

# Path: str (IRI) | ("seq", [Path]) | ("alt", [Path]) | ("inv", Path)
Path = Any


@dataclass(frozen=True)
class Triple:
    s: str  # ?var | IRI | literal marker "\x00lit\x00value\x00lang"
    p: Path
    o: str
    graph: str | None  # None = default graph context


@dataclass
class Group:
    elements: list = field(default_factory=list)
    # elements: ("triple", Triple) | ("optional", Group)
    #   | ("union", [Group]) | ("filter", expr) | ("bind", var, expr)
    #   | ("values", [vars], [rows]) | ("group", Group) | ("minus", Group)
    #   | ("exists", Group) | ("not_exists", Group) | ("subselect", Query)


@dataclass
class Query:
    prefixes: dict[str, str]
    template: list[Triple]
    datasets: list[str]
    where: Group
    # SELECT/ASK query-form extensions (CONSTRUCT leaves the defaults)
    form: str = "construct"
    # projection items: ("var", name) | ("expr", expr, alias)
    #   | ("agg", func, arg|None, distinct, alias); [] = SELECT *
    select: list = field(default_factory=list)
    distinct: bool = False
    group_by: list = field(default_factory=list)
    having: Any = None  # expression over aggregates, applied post-agg
    order_by: list = field(default_factory=list)  # (var name | expr tree, ascending)
    limit: int | None = None
    offset: int | None = None


@dataclass
class Update:
    """One SPARQL 1.1 Update operation (INSERT DATA / DELETE DATA /
    DELETE WHERE / DELETE..INSERT..WHERE, optional WITH graph)."""

    prefixes: dict[str, str]
    delete_tmpl: list[Triple]
    insert_tmpl: list[Triple]
    where: Group | None  # None = ground DATA form (no pattern matching)
    with_graph: str | None


_LIT = "\x00"


def _lit_term(value: str, lang: str | None = None) -> str:
    return f"{_LIT}{value}{_LIT}{lang or ''}"


def _is_lit(term: str) -> bool:
    return term.startswith(_LIT)


def _lit_parts(term: str) -> tuple[str, str | None]:
    _, value, lang = term.split(_LIT)
    return value, (lang or None)


class Parser:
    """Recursive-descent parser for the CONSTRUCT grammar subset."""

    def __init__(self, text: str):
        self.toks = tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self._anon = 0
        self._graph_ctx: str | None = None  # for EXISTS groups in expressions
        self._pending_bnodes: list[Triple] = []  # [ .. ] property lists

    # -- token helpers
    def peek(self, k: int = 0) -> Tok | None:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> Tok:
        t = self.peek()
        if t is None:
            raise SyntaxError("unexpected end of query")
        self.i += 1
        return t

    def eat(self, text: str) -> Tok:
        t = self.next()
        if t.text.upper() != text.upper():
            raise SyntaxError(f"expected {text!r}, got {t.text!r}")
        return t

    def at(self, text: str) -> bool:
        t = self.peek()
        return t is not None and t.text.upper() == text.upper()

    def at_kind(self, kind: str) -> bool:
        t = self.peek()
        return t is not None and t.kind == kind

    # -- terms
    def expand(self, pname: str) -> str:
        pfx, _, local = pname.partition(":")
        if pfx not in self.prefixes:
            raise SyntaxError(f"unknown prefix {pfx!r}:")
        return self.prefixes[pfx] + local

    def parse_iri(self) -> str:
        t = self.next()
        if t.kind == "IRIREF":
            return t.text[1:-1]
        if t.kind == "PNAME":
            return self.expand(t.text)
        raise SyntaxError(f"expected IRI, got {t.text!r}")

    def parse_term(self) -> str:
        t = self.peek()
        assert t is not None
        if t.kind == "VAR":
            self.next()
            return "?" + t.text[1:]
        if t.text == "[":
            # WHERE-side blank node [ p o ; ... ]: an existential =
            # a fresh variable; its property list queues as pending
            # triples drained by the enclosing triples block.
            self.next()
            self._anon += 1
            var = f"?__bn{self._anon}"
            if not self.at("]"):
                self._pending_bnodes.extend(
                    self.parse_property_list(var, self._graph_ctx)
                )
            self.eat("]")
            return var
        if t.kind == "STRING":
            self.next()
            value = _unescape(t.text[1:-1])
            lang = None
            nxt = self.peek()
            if nxt and nxt.kind == "LANGTAG":
                self.next()
                lang = nxt.text[1:]
            elif nxt and nxt.kind == "DTYPE":
                self.next()
                self.parse_iri()  # datatype annotation: carried as plain string
            return _lit_term(value, lang)
        if t.kind == "NUMBER":
            self.next()
            return _lit_term(t.text)
        if t.kind == "NAME" and t.text in ("true", "false"):
            self.next()
            return _lit_term(t.text)
        return _lit_term_iri(self.parse_iri())

    # -- query
    def parse_query(self) -> Query:
        while self.at("PREFIX"):
            self.next()
            pname = self.next()
            if pname.kind != "PNAME":
                raise SyntaxError(f"bad PREFIX name {pname.text!r}")
            iri = self.next()
            if iri.kind != "IRIREF":
                raise SyntaxError(f"bad PREFIX IRI {iri.text!r}")
            self.prefixes[pname.text[:-1]] = iri.text[1:-1]
        form = "construct"
        template: list[Triple] = []
        select: list = []
        distinct = False
        if self.at("CONSTRUCT"):
            self.next()
            self.eat("{")
            template = self.parse_triples_block(graph=None, in_template=True)
            self.eat("}")
        elif self.at("SELECT"):
            form = "select"
            self.next()
            select, distinct = self._parse_select_clause()
        elif self.at("ASK"):
            form = "ask"
            self.next()
        elif self.at("DESCRIBE"):
            form = "describe"
            self.next()
            while True:
                t = self.peek()
                if t is None:
                    break
                if t.kind == "VAR":
                    self.next()
                    select.append(("var", t.text[1:]))
                elif t.kind in ("IRIREF", "PNAME"):
                    select.append(("iri", self.parse_iri()))
                else:
                    break
        else:
            raise SyntaxError("expected CONSTRUCT, SELECT, ASK or DESCRIBE")
        datasets: list[str] = []
        while self.at("FROM"):
            self.next()
            if self.at("NAMED"):
                self.next()
            datasets.append(self.parse_iri())
        if form == "describe" and not (self.at("WHERE") or self.at("{")):
            # DESCRIBE <iri>... without a pattern: empty WHERE
            where = Group()
        else:
            if self.at("WHERE"):
                self.eat("WHERE")
            where = self.parse_group(graph=None)
        mods = self._parse_solution_modifiers()
        if self.peek() is not None:
            raise SyntaxError(f"trailing tokens from {self.peek().text!r}")
        return Query(
            self.prefixes, template, datasets, where,
            form=form, select=select, distinct=distinct, **mods,
        )

    def _parse_select_clause(self) -> tuple[list, bool]:
        """Projection of a SELECT (after the SELECT keyword): DISTINCT,
        ``*``, variables and ``(expr|agg AS ?v)`` items."""
        select: list = []
        distinct = False
        if self.at("DISTINCT"):
            distinct = True
            self.next()
        while True:
            t = self.peek()
            assert t is not None
            if t.text == "*":
                self.next()
                break
            if t.kind == "VAR":
                self.next()
                select.append(("var", t.text[1:]))
                continue
            if t.text == "(":
                self.next()
                item = self._parse_projection_expr()
                self.eat("AS")
                alias = self.next()
                assert alias.kind == "VAR", "projection alias must be a var"
                self.eat(")")
                select.append((*item, alias.text[1:]))
                continue
            break
        return select, distinct

    def _parse_solution_modifiers(self) -> dict:
        """GROUP BY / HAVING / ORDER BY / LIMIT / OFFSET."""
        group_by: list = []
        order_by: list = []
        limit = offset = None
        if self.at("GROUP"):
            self.next()
            self.eat("BY")
            while self.at_kind("VAR"):
                group_by.append(self.next().text[1:])
        having = None
        if self.at("HAVING"):
            self.next()
            having = self.parse_bracketed_expr()
        if self.at("ORDER"):
            self.next()
            self.eat("BY")
            while True:
                asc = True
                if self.at("ASC") or self.at("DESC"):
                    # ASC/DESC(expr): any bracketed expression is a
                    # sort key (r12 — `ORDER BY DESC(COUNT(*))`, the
                    # common analyst form). A plain DESC(?v) stays the
                    # legacy var form; other expressions carry their
                    # tree and lower through the same hidden-column
                    # hoisting HAVING uses (_lower_select).
                    asc = self.next().text.upper() == "ASC"
                    e = self.parse_bracketed_expr()
                    if (
                        isinstance(e, tuple)
                        and len(e) == 2
                        and e[0] == "var"
                    ):
                        order_by.append((e[1][1:], asc))
                    else:
                        order_by.append((e, asc))
                elif self.at_kind("VAR"):
                    order_by.append((self.next().text[1:], asc))
                else:
                    break
        if self.at("LIMIT"):
            self.next()
            limit = int(self.next().text)
        if self.at("OFFSET"):
            self.next()
            offset = int(self.next().text)
        return {
            "group_by": group_by, "having": having, "order_by": order_by,
            "limit": limit, "offset": offset,
        }

    def parse_subselect(self) -> Query:
        """A subquery inside WHERE: ``{ SELECT ... WHERE { ... }
        GROUP BY ... }`` (the opening ``{`` already consumed, the
        closing one left for the caller). Scoped to the enclosing
        GRAPH context, per spec."""
        self.eat("SELECT")
        select, distinct = self._parse_select_clause()
        if self.at("WHERE"):
            self.eat("WHERE")
        where = self.parse_group(self._graph_ctx)
        mods = self._parse_solution_modifiers()
        return Query(
            self.prefixes, [], [], where,
            form="select", select=select, distinct=distinct, **mods,
        )

    # -- update operations
    def parse_quad_block(self, default_graph: str | None) -> list[Triple]:
        """``{ (GRAPH term { triples } | triples)* }`` — the template /
        data block of an update operation. Unlike WHERE groups it holds
        only triples (no OPTIONAL/FILTER/...)."""
        self.eat("{")
        out: list[Triple] = []
        while not self.at("}"):
            if self.at("GRAPH"):
                self.next()
                t = self.peek()
                assert t is not None
                if t.kind == "VAR":
                    self.next()
                    gterm: str | None = "?" + t.text[1:]
                else:
                    gterm = self.parse_iri()
                self.eat("{")
                out.extend(self.parse_triples_block(gterm, in_template=True))
                self.eat("}")
            else:
                out.extend(
                    self.parse_triples_block(default_graph, in_template=True)
                )
            while self.at("."):
                self.next()
        self.eat("}")
        return out

    def parse_update(self) -> Update:
        """SPARQL 1.1 Update grammar subset: prologue, optional
        ``WITH <g>``, then INSERT DATA { quads } | DELETE DATA
        { quads } | DELETE WHERE { pattern } | DELETE { tmpl }
        [INSERT { tmpl }] WHERE { pattern } | INSERT { tmpl } WHERE
        { pattern }."""
        while self.at("PREFIX"):
            self.next()
            pname = self.next()
            if pname.kind != "PNAME":
                raise SyntaxError(f"bad PREFIX name {pname.text!r}")
            iri = self.next()
            if iri.kind != "IRIREF":
                raise SyntaxError(f"bad PREFIX IRI {iri.text!r}")
            self.prefixes[pname.text[:-1]] = iri.text[1:-1]
        with_graph: str | None = None
        if self.at("WITH"):
            self.next()
            with_graph = self.parse_iri()
        delete_tmpl: list[Triple] = []
        insert_tmpl: list[Triple] = []
        where: Group | None = None
        if self.at("INSERT"):
            self.next()
            if self.at("DATA"):
                self.next()
                insert_tmpl = self.parse_quad_block(with_graph)
            else:
                insert_tmpl = self.parse_quad_block(with_graph)
                self.eat("WHERE")
                where = self.parse_group(with_graph)
        elif self.at("DELETE"):
            self.next()
            if self.at("DATA"):
                self.next()
                delete_tmpl = self.parse_quad_block(with_graph)
            elif self.at("WHERE"):
                # DELETE WHERE { pattern }: the pattern IS the template
                self.next()
                where = self.parse_group(with_graph)
                delete_tmpl = [
                    el[1] for el in where.elements if el[0] == "triple"
                ]
                assert len(delete_tmpl) == len(where.elements), (
                    "DELETE WHERE pattern must be plain triples"
                )
            else:
                delete_tmpl = self.parse_quad_block(with_graph)
                if self.at("INSERT"):
                    self.next()
                    insert_tmpl = self.parse_quad_block(with_graph)
                self.eat("WHERE")
                where = self.parse_group(with_graph)
        else:
            raise SyntaxError("expected INSERT or DELETE")
        if self.peek() is not None:
            raise SyntaxError(f"trailing tokens from {self.peek().text!r}")
        for t in delete_tmpl + insert_tmpl:
            assert not isinstance(t.p, tuple), (
                "update templates cannot carry property paths"
            )
        return Update(
            self.prefixes, delete_tmpl, insert_tmpl, where, with_graph
        )

    _AGG_FUNCS = {"COUNT", "SUM", "MIN", "MAX", "AVG"}

    def _parse_projection_expr(self):
        """Inside ``( ... AS ?v )``: an aggregate call or a plain
        expression."""
        t = self.peek()
        assert t is not None
        if t.kind == "NAME" and t.text.upper() in self._AGG_FUNCS:
            func = self.next().text.upper()
            self.eat("(")
            agg_distinct = False
            if self.at("DISTINCT"):
                agg_distinct = True
                self.next()
            if self.at("*"):
                self.next()
                arg = None
            else:
                arg = self.parse_expr()
            self.eat(")")
            return ("agg", func, arg, agg_distinct)
        return ("expr", self.parse_expr())

    # -- groups
    def parse_group(self, graph: str | None) -> Group:
        self.eat("{")
        prev_ctx, self._graph_ctx = self._graph_ctx, graph
        g = Group()
        while not self.at("}"):
            if self.at("GRAPH"):
                self.next()
                t = self.peek()
                assert t is not None
                if t.kind == "VAR":
                    self.next()
                    gterm: str | None = "?" + t.text[1:]
                else:
                    gterm = self.parse_iri()
                inner = self.parse_group(gterm)
                g.elements.extend(inner.elements)
            elif self.at("OPTIONAL"):
                self.next()
                g.elements.append(("optional", self.parse_group(graph)))
            elif self.at("MINUS"):
                self.next()
                g.elements.append(("minus", self.parse_group(graph)))
            elif self.at("FILTER"):
                self.next()
                if self.at("NOT"):
                    self.next()
                    self.eat("EXISTS")
                    g.elements.append(("not_exists", self.parse_group(graph)))
                elif self.at("EXISTS"):
                    self.next()
                    g.elements.append(("exists", self.parse_group(graph)))
                else:
                    g.elements.append(("filter", self.parse_bracketed_expr()))
            elif self.at("BIND"):
                self.next()
                self.eat("(")
                expr = self.parse_expr()
                self.eat("AS")
                var = self.next()
                if var.kind != "VAR":
                    raise SyntaxError("BIND target must be a variable")
                self.eat(")")
                g.elements.append(("bind", "?" + var.text[1:], expr))
            elif self.at("VALUES"):
                self.next()
                g.elements.append(self.parse_values())
            elif self.at("{") and (
                (nxt := self.peek(1)) is not None
                and nxt.kind == "NAME"
                and nxt.text.upper() == "SELECT"
            ):
                self.next()
                g.elements.append(("subselect", self.parse_subselect()))
                self.eat("}")
            elif self.at("{"):
                first = self.parse_group(graph)
                if self.at("UNION"):
                    branches = [first]
                    while self.at("UNION"):
                        self.next()
                        branches.append(self.parse_group(graph))
                    g.elements.append(("union", branches))
                else:
                    g.elements.append(("group", first))
            else:
                start = self.i
                g.elements.extend(
                    ("triple", t)
                    for t in self.parse_triples_block(graph, in_template=False)
                )
                if self.i == start:
                    # a keyword with no branch here (a UNION not after a
                    # {..} group) or the end of the text: fail instead
                    # of looping on it
                    tok = self.peek()
                    raise SyntaxError(
                        "unexpected end of query"
                        if tok is None
                        else f"unexpected {tok.text!r} in group pattern"
                    )
            while self.at("."):
                self.next()
        self.eat("}")
        self._graph_ctx = prev_ctx
        return g

    def parse_values(self) -> tuple:
        t = self.peek()
        assert t is not None
        if t.kind == "VAR":  # single-variable form
            self.next()
            var = "?" + t.text[1:]
            self.eat("{")
            rows = []
            while not self.at("}"):
                rows.append((self.parse_term(),))
            self.eat("}")
            return ("values", [var], rows)
        self.eat("(")
        vars_: list[str] = []
        while not self.at(")"):
            v = self.next()
            if v.kind != "VAR":
                raise SyntaxError("VALUES vars must be variables")
            vars_.append("?" + v.text[1:])
        self.eat(")")
        self.eat("{")
        rows = []
        while not self.at("}"):
            self.eat("(")
            row = []
            while not self.at(")"):
                if self.at("UNDEF"):
                    self.next()
                    row.append(None)
                else:
                    row.append(self.parse_term())
            self.eat(")")
            rows.append(tuple(row))
        self.eat("}")
        return ("values", vars_, rows)

    # -- triples
    def parse_triples_block(
        self, graph: str | None, in_template: bool
    ) -> list[Triple]:
        out: list[Triple] = []
        while True:
            t = self.peek()
            if (
                t is None
                or t.text in ("}", "{", "]")
                or (t.kind == "NAME" and t.text.upper() in self._KEYWORDS)
            ):
                return out
            subj = self.parse_term()
            out.extend(self.parse_property_list(subj, graph))
            if self._pending_bnodes:
                out.extend(self._pending_bnodes)
                self._pending_bnodes = []
            # tolerate any run of '.' separators (the reference files mix
            # '.', ';}' and bare '}' termination styles)
            while self.at("."):
                self.next()

    _KEYWORDS = ("OPTIONAL", "FILTER", "BIND", "VALUES", "GRAPH", "UNION", "MINUS")

    def parse_property_list(self, subj: str, graph: str | None) -> list[Triple]:
        out: list[Triple] = []
        while True:
            # tolerate dangling ';' before '}', '.', '{' or a keyword
            # (organization.sparql:62-66, :97-98 mix all these styles)
            t = self.peek()
            if (
                t is None
                or t.text in ("}", ".", "{", "]")
                or (t.kind == "NAME" and t.text.upper() in self._KEYWORDS)
            ):
                return out
            path = self.parse_path()
            while True:
                obj = self.parse_term()
                out.append(Triple(subj, path, obj, graph))
                if self.at(","):
                    self.next()
                    continue
                break
            if self.at(";"):
                self.next()
                continue
            return out

    # -- property paths
    def parse_path(self) -> Path:
        t = self.peek()
        assert t is not None
        if t.kind == "NAME" and t.text == "a":
            self.next()
            return RDF_TYPE
        if t.kind == "VAR":
            self.next()
            return "?" + t.text[1:]
        return self.parse_path_alt()

    def parse_path_alt(self) -> Path:
        parts = [self.parse_path_seq()]
        while self.at("|"):
            self.next()
            parts.append(self.parse_path_seq())
        return parts[0] if len(parts) == 1 else ("alt", parts)

    def parse_path_seq(self) -> Path:
        parts = [self.parse_path_elt()]
        while self.at("/"):
            self.next()
            parts.append(self.parse_path_elt())
        return parts[0] if len(parts) == 1 else ("seq", parts)

    def parse_path_elt(self) -> Path:
        if self.at("^"):
            self.next()
            return ("inv", self.parse_path_elt())
        if self.at("!"):
            # negated property set: !iri, !^iri or !(p1|^p2|...) — any
            # predicate NOT in the member set (SPARQL 1.1 §9.1).
            # Inverse members split the set: !(P|^Q) matches (x,y) when
            # some triple (x,p,y) has p NOT IN P, or some triple
            # (y,q,x) has q NOT IN Q — lowered as the alternation of
            # the forward complement and the role-swapped complement.
            self.next()

            def member() -> tuple[str, bool]:
                inv = False
                if self.at("^"):
                    self.next()
                    inv = True
                t = self.peek()
                if t is not None and t.kind == "NAME" and t.text == "a":
                    self.next()
                    return RDF_TYPE, inv
                return self.parse_iri(), inv

            if self.at("("):
                self.next()
                members = [member()]
                while self.at("|"):
                    self.next()
                    members.append(member())
                self.eat(")")
            else:
                members = [member()]
            fwd = [m for m, inv in members if not inv]
            rev = [m for m, inv in members if inv]
            if not rev:
                return ("nps", fwd)
            if not fwd:
                return ("inv", ("nps", rev))
            return ("alt", [("nps", fwd), ("inv", ("nps", rev))])
        if self.at("("):
            self.next()
            p = self.parse_path_alt()
            self.eat(")")
        else:
            p = self.parse_iri()
        # postfix closure modifiers: p+ (one-or-more), p* (zero-or-
        # more), p? (zero-or-one); `? ` followed by a name is a VAR
        # token, so a bare OP `?` here is unambiguous
        while True:
            t = self.peek()
            if t is not None and t.kind == "OP" and t.text in "+*?":
                self.next()
                p = ({"+": "plus", "*": "star", "?": "opt"}[t.text], p)
            else:
                return p

    # -- expressions (precedence: || < && < unary ! < relational < primary)
    def parse_bracketed_expr(self):
        if self.at("("):
            self.next()
            e = self.parse_expr()
            self.eat(")")
            return e
        return self.parse_unary()  # FILTER langMatches(...) function form

    def parse_expr(self):
        left = self.parse_and()
        while self.at("||"):
            self.next()
            left = ("||", left, self.parse_and())
        return left

    def parse_and(self):
        left = self.parse_relational()
        while self.at("&&"):
            self.next()
            left = ("&&", left, self.parse_relational())
        return left

    def parse_relational(self):
        left = self.parse_additive()
        t = self.peek()
        if t and t.text in ("=", "!=", "<", ">", "<=", ">="):
            self.next()
            return (t.text, left, self.parse_additive())
        if t and t.kind == "NAME" and t.text.upper() == "IN":
            self.next()
            return ("in", left, self.parse_arg_list())
        if t and t.kind == "NAME" and t.text.upper() == "NOT":
            self.next()
            self.eat("IN")
            return ("!", ("in", left, self.parse_arg_list()))
        return left

    def parse_additive(self):
        left = self.parse_multiplicative()
        while self.at("+") or self.at("-"):
            op = self.next().text
            left = ("num:" + op, left, self.parse_multiplicative())
        return left

    def parse_multiplicative(self):
        left = self.parse_unary()
        while self.at("*") or self.at("/"):
            op = self.next().text
            left = ("num:" + op, left, self.parse_unary())
        return left

    def parse_unary(self):
        if self.at("!"):
            self.next()
            return ("!", self.parse_unary())
        return self.parse_primary()

    def parse_arg_list(self) -> list:
        self.eat("(")
        args = []
        while not self.at(")"):
            if self.at("*"):  # COUNT(*) in a HAVING expression
                self.next()
                args.append(("star",))
                continue
            args.append(self.parse_expr())
            if self.at(","):
                self.next()
        self.eat(")")
        return args

    def parse_primary(self):
        t = self.peek()
        assert t is not None
        if t.text == "(":
            self.next()
            e = self.parse_expr()
            self.eat(")")
            return e
        if t.kind == "NAME" and t.text.upper() == "EXISTS":
            self.next()
            return ("exists_expr", self.parse_group(self._graph_ctx))
        if t.kind == "NAME" and t.text.upper() == "NOT":
            self.next()
            self.eat("EXISTS")
            return ("!", ("exists_expr", self.parse_group(self._graph_ctx)))
        if t.kind == "NAME" and t.text in ("true", "false"):
            self.next()
            return ("boolean", t.text == "true")
        if t.kind == "NAME":
            self.next()
            return ("call", t.text.upper(), self.parse_arg_list())
        if t.kind == "VAR":
            self.next()
            return ("var", "?" + t.text[1:])
        if t.kind in ("STRING", "NUMBER"):
            return ("term", self.parse_term())
        if t.kind in ("IRIREF", "PNAME"):
            return ("term", _lit_term_iri(self.parse_iri()))
        raise SyntaxError(f"unexpected token in expression: {t.text!r}")


def _lit_term_iri(iri: str) -> str:
    """IRIs used as terms share the literal marker (value is the IRI
    text, no language); the quad store is string-typed so an IRI term
    and a plain literal of the same text compare equal — acceptable for
    the reference surface, which never relies on that distinction."""
    return _lit_term(iri)


# ---------------------------------------------------------------------------
# Lowering: SPARQL algebra -> Spark SQL text

_FRESH = 0


def _fresh_var() -> str:
    global _FRESH
    _FRESH += 1
    return f"?__sq{_FRESH}"


def _expand_path_triple(t: Triple) -> list[list[Triple]]:
    """Rewrite one (possibly path-carrying) triple into alternative
    plain-predicate pattern lists; >1 alternative = a union of rewrites."""
    p = t.p
    if isinstance(p, str):
        return [[t]]
    kind = p[0]
    if kind == "nps":
        return [[t]]  # atomic: pattern_scan filters predicate NOT IN
    if kind == "inv":
        return _expand_path_triple(Triple(t.o, p[1], t.s, t.graph))
    if kind == "seq":
        alts: list[list[Triple]] = [[]]
        prev = t.s
        parts = p[1]
        for idx, part in enumerate(parts):
            nxt = t.o if idx == len(parts) - 1 else _fresh_var()
            sub = _expand_path_triple(Triple(prev, part, nxt, t.graph))
            alts = [a + b for a in alts for b in sub]
            prev = nxt
        return alts
    if kind == "alt":
        # all-plain alternation stays a single IN scan
        if all(isinstance(q, str) and not q.startswith("?") for q in p[1]):
            return [[Triple(t.s, "|".join(p[1]), t.o, t.graph)]]
        out: list[list[Triple]] = []
        for q in p[1]:
            out.extend(_expand_path_triple(Triple(t.s, q, t.o, t.graph)))
        return out
    raise ValueError(f"unsupported path {p!r}")


def _path_expandable(p) -> bool:
    """True when a tuple path is built ONLY of plain IRIs under
    seq/alt/inv — the shapes _expand_path_triple rewrites without a
    closure (closures and NPS need their own machinery)."""
    if isinstance(p, str):
        return not p.startswith("?")
    if isinstance(p, tuple):
        if p[0] == "inv":
            return _path_expandable(p[1])
        if p[0] in ("seq", "alt"):
            return all(_path_expandable(q) for q in p[1])
    return False


def _q(name: str) -> str:
    """A backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


_NULL = "CAST(NULL AS STRING)"
_QUADS = "{quads}"
# Column of a solution set whose patterns bind no variable (a fully
# ground triple): SQL has no zero-column SELECT. Never a join key and
# never projected.
_UNIT = "__unit"


class _Rel:
    """A solution set under construction: the text of one SELECT over
    frame arguments (``{quads}``, ``{fN}``) with ``:pN`` parameter
    markers, plus its output columns — one per bound variable and a
    ``<var>__lang`` column per object binding."""

    __slots__ = ("sql", "columns")

    def __init__(self, sql: str, columns: list[str]):
        self.sql = sql
        self.columns = list(columns)

    def src(self, alias: str) -> str:
        return f"({self.sql}) AS {_q(alias)}"


def _value_cols(rel) -> list[str]:
    return [
        c for c in rel.columns if not c.endswith("__lang") and c != _UNIT
    ]


def _cols(names, prefix: str = "") -> str:
    return ", ".join(prefix + _q(c) for c in names)


def _where(conds: list[str]) -> str:
    return " WHERE " + " AND ".join(conds) if conds else ""


def _env(rel: _Rel, prefix: str = "") -> dict[str, str]:
    """Variable -> SQL reference map over a relation's columns."""
    return {c: prefix + _q(c) for c in rel.columns}


def _project(items: list[tuple[str, str]], tail: str) -> _Rel:
    """SELECT ``items`` ((sql, name) pairs) ``tail``; no items selects
    the unit column."""
    if not items:
        items = [("true", _UNIT)]
    sel = ", ".join(f"{s} AS {_q(n)}" for s, n in items)
    return _Rel(f"SELECT {sel} {tail}", [n for _, n in items])


# Largest right side a variable-disjoint cross join broadcasts (see
# _Eval._cross_small); a larger one falls back to the plain cross join.
_CROSS_BROADCAST_MAX_ROWS = 1 << 17


def _path_endpoint_vars(t: Triple) -> set[str]:
    """Variables a triple pattern certainly binds in every solution:
    subject/object/graph/predicate variables. Path predicates bind
    their endpoints (closure ``p*``/``p?`` identity rows still bind
    both ends); the path itself carries no variables in this grammar."""
    out = set()
    for term in (t.s, t.o):
        if isinstance(term, str) and term.startswith("?"):
            out.add(term[1:])
    if isinstance(t.p, str) and t.p.startswith("?"):
        out.add(t.p[1:])
    if t.graph is not None and t.graph.startswith("?"):
        out.add(t.graph[1:])
    return out


def _expr_certainly_bound(e, cb: set[str]) -> bool:
    """True if the expression certainly evaluates to a non-error,
    non-null value given that the variables in ``cb`` are certainly
    bound. Used to decide whether a BIND target stays on the hash
    equi-join fast path (person.sparql BINDs IRIs of bound variables
    that later joins consume — those must not degrade to
    compatible-binding joins). Conservative: anything not provably
    non-null returns False."""
    if not isinstance(e, tuple):
        return False
    kind = e[0]
    if kind == "var":
        return e[1][1:] in cb
    if kind in ("term", "boolean"):
        return True
    if kind == "call":
        name, args = e[1], e[2]
        if name == "COALESCE":
            return any(_expr_certainly_bound(a, cb) for a in args)
        if name == "BOUND":
            return True
        if name in (
            "CONCAT", "IRI", "URI", "STR", "MD5", "UCASE", "LCASE",
            "STRLEN", "SUBSTR", "REPLACE", "STRSTARTS", "STRENDS",
            "CONTAINS", "ENCODE_FOR_URI", "LANG",
        ):
            return all(_expr_certainly_bound(a, cb) for a in args)
        return False
    if kind == "in":
        return _expr_certainly_bound(e[1], cb)
    if kind in ("<", ">", "<=", ">="):
        # An order comparison with a numeric literal operand takes the
        # numeric try_cast dispatch, so a BOUND non-numeric operand
        # still yields NULL (type error) — the result is NOT certainly
        # bound even when both operands are (r9 ADVICE).
        if _is_numeric_literal(e[1]) or _is_numeric_literal(e[2]):
            return False
        return _expr_certainly_bound(e[1], cb) and _expr_certainly_bound(e[2], cb)
    if kind in ("=", "!=", "||", "&&"):
        return _expr_certainly_bound(e[1], cb) and _expr_certainly_bound(e[2], cb)
    if kind == "!":
        return _expr_certainly_bound(e[1], cb)
    # num:* arithmetic try_casts (may null), IF (condition may error),
    # exists markers: not certain
    return False


def _group_cb(g: "Group") -> set[str]:
    """Certainly-bound variables of a group pattern (SPARQL §18.2.1's
    'variables bound in every solution'): the static analysis behind
    compatible-binding join placement. Triples bind their variables;
    UNION binds the intersection of its branches; OPTIONAL, FILTER and
    error-capable BINDs bind nothing certainly; VALUES binds columns
    with no UNDEF; a subselect binds its certainly-bound projected
    variables."""
    cb: set[str] = set()
    for el in g.elements:
        cb |= _element_cb(el, cb)
    return cb


def _element_cb(el, acc_cb: set[str]) -> set[str]:
    kind = el[0]
    if kind == "triple":
        return _path_endpoint_vars(el[1])
    if kind == "union":
        sets = [_group_cb(b) for b in el[1]]
        out = set(sets[0]) if sets else set()
        for s in sets[1:]:
            out &= s
        return out
    if kind == "group":
        return _group_cb(el[1])
    if kind == "values":
        vars_, rows = el[1], el[2]
        out = set()
        for i, v in enumerate(vars_):
            if all(row[i] is not None for row in rows):
                out.add(v[1:])
        return out
    if kind == "bind":
        if _expr_certainly_bound(el[2], acc_cb):
            return {el[1][1:]}
        return set()
    if kind == "subselect":
        sub = el[1]
        inner = _group_cb(sub.where)
        if not sub.select:
            return inner
        out = set()
        for item in sub.select:
            if item[0] == "var" and item[1].lstrip("?") in inner:
                out.add(item[1].lstrip("?"))
        return out
    # optional / minus / filter / not_exists / exists
    return set()


def _values_in_lists(g: "Group") -> dict[str, list[str]]:
    """Per variable, the values a group's VALUES elements allow: the
    column's values when it holds no UNDEF, intersected across VALUES
    elements. Every solution of the group binds such a variable to one
    of them, so a scan of the group's own BGP that certainly binds the
    variable may drop any other value before the join (the VALUES join
    still runs and keeps the result exact)."""
    out: dict[str, list[str]] = {}
    for el in g.elements:
        if el[0] != "values":
            continue
        vars_, rows = el[1], el[2]
        for i, v in enumerate(vars_):
            if any(row[i] is None for row in rows):
                continue
            vals = sorted({_lit_parts(row[i])[0] for row in rows})
            name = v[1:]
            if name in out:
                vals = [x for x in out[name] if x in vals]
            out[name] = vals
    return out


_NUMERIC_RE = re.compile(r"[+-]?\d+(?:\.\d+)?\Z")


def _is_numeric_literal(e) -> bool:
    """Expression node is a plain numeric literal (NUMBER token or a
    numeric arithmetic result) — triggers numeric comparison dispatch."""
    if not isinstance(e, tuple):
        return False
    if e[0] == "term":
        value, lang = _lit_parts(e[1])
        return lang is None and bool(_NUMERIC_RE.match(value))
    if e[0].startswith("num:"):
        return True
    return False


def _numeric_cast_type(*nodes) -> str:
    """Cast type for the numeric comparison dispatch (r9 ADVICE):
    SPARQL compares xsd:integer/xsd:decimal EXACTLY, and double loses
    exactness for integers above 2^53 and at decimal rounding
    boundaries (the known Spark-vs-DuckDB cross-engine trap). Every
    numeric literal the grammar admits (_NUMERIC_RE: optional sign,
    digits, optional fraction — no exponent) is integer- or
    decimal-shaped, so compare as decimal(38,10) unless a literal
    carries more than 10 fraction digits or an operand is a num:*
    arithmetic result (already double-domain) — only then fall back
    to double. The decimal path is additionally guarded PER ROW (r10
    ADVICE): data-side values whose lexical form does not fit
    decimal(38,10) exactly — xsd:double exponent forms like '1.5E3',
    integers wider than 28 digits, fractions longer than 10 digits
    (which cast would round half-up, flipping strict comparisons at
    the boundary) — take a double-compare leg instead of silently
    dropping to NULL; see _Eval._decimal_exact_shape."""
    for e in nodes:
        if not isinstance(e, tuple):
            continue
        if e[0] == "term":
            value, lang = _lit_parts(e[1])
            if lang is None and _NUMERIC_RE.match(value):
                parts = value.split(".", 1)
                if len(parts) == 2 and len(parts[1]) > 10:
                    return "double"
        elif e[0].startswith("num:"):
            return "double"
    return "decimal(38,10)"


# Lexical forms decimal(38,10) holds EXACTLY: up to 28 integer digits
# (38 precision - 10 scale) and at most 10 fraction digits. Exponent
# forms ('1.5E3'), wider integers, and longer fractions are numeric but
# not exactly representable — those rows compare as double.
_DECIMAL_EXACT_RE = r"^[+-]?\d{1,28}(\.\d{1,10})?$"


def _expr_has_exists(e) -> bool:
    """True if the expression AST contains an EXISTS subgroup (those
    need accumulator-correlated evaluation — never fusible)."""
    if isinstance(e, tuple):
        if e[0] == "exists_expr":
            return True
        return any(_expr_has_exists(p) for p in e[1:])
    if isinstance(e, list):
        return any(_expr_has_exists(p) for p in e)
    return False


def _expr_vars(e) -> set[str]:
    """Variable names an expression mentions (EXISTS groups excluded)."""
    if isinstance(e, tuple):
        if e and e[0] == "var":
            return {e[1][1:]}
        if e and e[0] == "exists_expr":
            return set()
        out: set[str] = set()
        for p in e[1:]:
            out |= _expr_vars(p)
        return out
    if isinstance(e, list):
        out = set()
        for p in e:
            out |= _expr_vars(p)
        return out
    return set()


def _conj(exprs: list):
    """One ``&&`` expression over a non-empty list, or None."""
    out = None
    for e in exprs:
        out = e if out is None else ("&&", out, e)
    return out


# Subject buckets of the star-fusion fan-out probe (see
# _Eval._fanout_hot_buckets).
_FANOUT_BUCKETS = 1 << 20

_ARG_RE = re.compile(r":(p\d+)\b")
_FRAME_RE = re.compile(r"\{(\w+)\}")


class _Eval:
    """Lowers one query's algebra to Spark SQL text.

    Every unit (pattern scan, star pivot, fused union scan, join,
    OPTIONAL, UNION, MINUS, [NOT] EXISTS, BIND, FILTER, VALUES,
    sub-SELECT) is a ``_Rel``: SELECT text over frame arguments. Each
    SPARQL literal and parameter goes into ``self.args`` and appears in
    the text only as a ``:pN`` marker; identifiers are backtick-quoted.
    A segment of text compiles with one ``spark.sql(text, args=...,
    **frames)`` at a lineage truncation point (``checkpoint``), and its
    checkpointed result enters the next segment as the frame argument
    ``{fN}``."""

    def __init__(
        self,
        quads: DataFrame,
        datasets: list[str],
        params: dict[str, str] | None = None,
    ):
        self.quads = quads
        self.spark = quads.sparkSession
        self.datasets = datasets
        # Injected initial bindings — the reference's runner substitutes
        # ?since / ?prefix_id_base into its query text before sending
        # (deletes.sparql:48, person.sparql:74); here they are proper
        # pre-bound variables: BOUND() is true, expression references
        # resolve to the literal.
        self.params = {k.lstrip("?"): v for k, v in (params or {}).items()}
        self._ex_n = 0
        # Low-cardinality variables: bound by VALUES rows or by a
        # variable GRAPH position (a handful of graphs / inline rows).
        # Joining two entity-sized scans on ONLY these keys is a
        # near-cartesian — deletes.sparql's `?ie a ?ie_type` (VALUES
        # type, shared ?ORGraph) against the fragment block measured
        # 462 s at sf0.1 before the greedy order learned to prefer
        # entity-variable links (5 s after).
        self.small_vars: set[str] = set()
        # Lazy star-fusion fan-out probe result (see
        # _fanout_hot_buckets): None = not probed yet, [] = no hot
        # buckets (the overwhelmingly common case), else the hot
        # bucket ids every star must route around.
        self._fanout_hot: "list[int] | None" = None
        self._ckpt_parts: "int | None" = None
        # Parameters and frame arguments of every segment; star pivots
        # compile on a thread pool, so registration takes the lock.
        self._lock = threading.Lock()
        self.args: dict[str, Any] = {}
        self._arg_names: dict[tuple, str] = {}
        self.frames: dict[str, DataFrame] = {"quads": quads}

    # -- segments
    def lit(self, value) -> str:
        """The ``:pN`` marker binding ``value`` (one per distinct value)."""
        key = (type(value), value)
        with self._lock:
            name = self._arg_names.get(key)
            if name is None:
                name = f"p{len(self.args)}"
                self.args[name] = value
                self._arg_names[key] = name
        return ":" + name

    def lits(self, values) -> str:
        return ", ".join(self.lit(v) for v in values)

    def frame_rel(self, df: DataFrame, columns: "list[str] | None" = None) -> _Rel:
        """A DataFrame entering the text as a frame argument."""
        cols = list(df.columns) if columns is None else list(columns)
        with self._lock:
            name = f"f{len(self.frames)}"
            self.frames[name] = df
        return _Rel(f"SELECT {_cols(cols)} FROM {{{name}}}", cols)

    def to_df(self, rel: _Rel) -> DataFrame:
        """Compile one segment: a single ``spark.sql`` over the frames
        and parameters its text names."""
        text = rel.sql
        args = {n: self.args[n] for n in dict.fromkeys(_ARG_RE.findall(text))}
        frames = {n: self.frames[n] for n in set(_FRAME_RE.findall(text))}
        return self.spark.sql(text, args=args, **frames)

    def checkpoint(self, rel: _Rel, coalesce: "int | None" = None) -> _Rel:
        """End a segment at a lineage truncation point: compile it,
        truncate its lineage, and continue over the result as a frame."""
        df = _truncate_lineage(self.to_df(rel), coalesce)
        return self.frame_rel(df, rel.columns)

    def _star_ckpt_parts(self) -> int:
        # Star checkpoints are narrow (one pre-explode array row per
        # subject) and MUTUALLY INDEPENDENT, so they get an explicit
        # small partition count: block count and warm re-read tasks
        # stay bounded (the non-adaptive checkpoint plan cannot
        # size-coalesce), while COLD aggregate parallelism is preserved
        # because the first action executes all stars' narrow final
        # stages concurrently in one DAG. The count scales with the
        # cluster: cores/8, at least 2.
        if self._ckpt_parts is None:
            self._ckpt_parts = max(
                2, self.spark.sparkContext.defaultParallelism // 8
            )
        return self._ckpt_parts

    def _values(self, names: list[str], rows: list[tuple]) -> _Rel:
        """An inline VALUES table of strings (None = UNDEF)."""
        if not rows:
            return _project([(_NULL, n) for n in names], "WHERE false")
        body = ", ".join(
            "(" + ", ".join(_NULL if v is None else self.lit(v) for v in row) + ")"
            for row in rows
        )
        return _Rel(
            f"SELECT {_cols(names)} FROM VALUES {body} AS `__v`({_cols(names)})",
            names,
        )

    def _fanout_hot_buckets(self) -> "list[int]":
        """ONE driver-side fan-out probe per query evaluation (r12,
        the r11 verdict's one `weak`): star fusion's collect_list
        pivot buffers each subject's matches in a single aggregation
        buffer that cannot spill WITHIN a group — a hot (subject x
        predicate) with ~10^6 matches is an OOM class the classic
        join plan (which streams the same cross product) does not
        have. The hot set only affects ROUTING, never semantics (both
        paths compute identical bags), so a sound, false-positive-
        tolerant detector suffices: subjects are bucketed by
        pmod(xxhash64(subject), B) (B = _FANOUT_BUCKETS = 2^20) and
        rows counted per BUCKET over the FULL store — a superset of
        every star's slice, so any subject whose per-member fan-out
        could exceed SPARK_GRAFT_STAR_FANOUT_MAX (default 10000; 0
        disables) is certainly inside a hot bucket. The bounded-cardinality
        count-agg collapses map-side to <= B rows per task (the store
        itself is never shuffled), runs ONCE per query evaluation as
        a small driver-coordination job (<= B tiny rows back, in
        practice a handful), and its result compiles into literal
        bucket-id IN filters — so when the probe comes back empty the
        fused plan is BIT-IDENTICAL to the unguarded pivot: zero
        in-plan guard branches, zero extra scan stages, zero run-time
        cost. A bucket collision with a genuinely hot subject routes
        an innocent subject to the join path — slower, never wrong;
        at 10^9-row stores the expected bucket load is ~10^3, two
        orders below the default threshold."""
        if self._fanout_hot is not None:
            return self._fanout_hot
        fanout_max = int(
            os.environ.get("SPARK_GRAFT_STAR_FANOUT_MAX", "10000")
        )
        if fanout_max <= 0:
            self._fanout_hot = []
            return self._fanout_hot
        # Probe results cache per (session, quads PLAN identity,
        # threshold): a session evaluating many queries over the same
        # store (the composed flows build 9+ _Evals) pays the probe
        # once. semanticHash keys the ANALYZED plan, so a different
        # store path / snapshot plan re-probes; in-place content
        # changes under an identical plan reuse the cached routing —
        # acceptable because routing never affects semantics, only
        # which path computes a hot subject.
        key = (self.quads.semanticHash(), fanout_max)
        cached = _FANOUT_PROBE_CACHE.get(self.spark, key)
        if cached is not MISS:
            self._fanout_hot = cached
            return cached
        probe = _Rel(
            f"SELECT pmod(xxhash64(subject), {_FANOUT_BUCKETS}) AS `__fb` "
            f"FROM {_QUADS} GROUP BY 1 "
            f"HAVING count(1) > {self.lit(fanout_max)}",
            ["__fb"],
        )
        # Planned without AQE (as the star checkpoints are): one job,
        # where the adaptive plan runs its shuffle stage as a job of
        # its own.
        found = ClassicFrame(_unadaptive(self.to_df(probe)), self.spark).collect()
        self._fanout_hot = [r["__fb"] for r in found]
        _FANOUT_PROBE_CACHE.put(self.spark, key, self._fanout_hot)
        return self._fanout_hot

    # -- joins
    def _cross_small(self, b: _Rel) -> bool:
        """Whether the right side of a variable-disjoint cross join is
        small enough to broadcast. Variable-disjoint groups are a true
        cross product. A bare cross join over frames without size
        statistics (checkpointed stores, createDataFrame inputs) plans
        a CartesianProductExec whose partition count is |a| x |b| — and
        CHAINED disjoint groups multiply it again, so a 3-group query
        over 512-partition shuffle reads schedules ~10^5 tiny tasks and
        each outer task recomputes the inner sides (measured as a
        multi-HOUR differential-test case; guide §3.3 "accidental
        cartesian products"). Disjoint SPARQL groups are in practice
        VALUES blocks or single selective patterns, so the RIGHT side
        broadcasts when it is known small: BroadcastNestedLoopJoin
        keeps a's partitioning and ships b once.

        The size comes from what the plan already knows: the optimized
        plan's ``maxRows`` (exact for an inline VALUES table and what
        filters or projects one) or its row-count statistic. Only a plan
        with neither pays a bounded compile-time probe (count(limit(b,
        N+1)), distributed, short-circuiting after N+1 rows), memoised by
        the analyzed plan's semanticHash. A right side above the cap, or
        of unknown size because the probe failed, takes the plain cross
        join (slow but memory-safe) instead of an unbounded broadcast
        build."""
        cap = _CROSS_BROADCAST_MAX_ROWS
        try:
            df = self.to_df(b)
            qe = df._jdf.queryExecution()
            plan = qe.optimizedPlan()
            bound = plan.maxRows()
            if bound.isDefined():
                return int(bound.get()) <= cap
            count = plan.stats().rowCount()
            if count.isDefined():
                return int(count.get().toString()) <= cap
            key = (qe.analyzed().semanticHash(), cap)
            small = _CROSS_PROBE_CACHE.get(self.spark, key)
            if small is MISS:
                small = df.limit(cap + 1).count() <= cap
                _CROSS_PROBE_CACHE.put(self.spark, key, small)
            return small
        except Exception:
            return False

    def _join(
        self,
        a: _Rel,
        b: _Rel,
        how: str = "inner",
        compat: "tuple[str, ...] | list[str] | set[str]" = (),
        cond=None,
        broadcast: bool = False,
    ) -> _Rel:
        """SPARQL join of two solution sets: equi-join on shared variables,
        (value, lang) null-safe on shared language columns (term equality).

        ``compat`` names shared variables that may be UNBOUND (null) on
        either side — introduced by OPTIONAL, a UNION branch that does not
        bind them, or a VALUES UNDEF. SPARQL compatible-binding semantics
        (spec §18.3: unbound is compatible with anything; the merged
        binding takes the bound side) then replace plain equality for
        those columns. The callers compute ``compat`` by static
        certainly-bound analysis of the query AST (``_group_cb``), so the
        overwhelmingly common all-bound case keeps the pure hash
        equi-join fast path — no theta join appears in any plan unless
        the query actually re-joins a maybe-unbound variable.

        ``cond`` is a LeftJoin condition (an OPTIONAL group's FILTER over
        variables bound outside it), evaluated over the merged row;
        ``broadcast`` hints the right side (inline VALUES tables)."""
        shared = sorted(set(_value_cols(a)) & set(_value_cols(b)))
        compat = sorted(set(compat) & set(shared))
        if compat:
            return self._compat_join(a, b, how, shared, compat, cond, broadcast)
        lang_shared = sorted(
            c for c in set(a.columns) & set(b.columns) if c.endswith("__lang")
        )
        on = [f"`l`.{_q(c)} = `r`.{_q(c)}" for c in shared]
        on += [f"`l`.{_q(c)} <=> `r`.{_q(c)}" for c in lang_shared]
        if cond is not None:
            env = {**_env(b, "`r`."), **_env(a, "`l`.")}
            on.append(self.expr(cond, env))
        b_only = [c for c in b.columns if c not in a.columns]
        if shared and not lang_shared:
            # USING-join column order: keys, then each side's others
            out = shared + [c for c in a.columns if c not in shared] + b_only
        else:
            out = a.columns + b_only
        sel = ", ".join(
            ("`l`." if c in a.columns else "`r`.") + _q(c) for c in out
        )
        if not shared and how != "left":
            broadcast = self._cross_small(b)
        hint = "/*+ BROADCAST(`r`) */ " if broadcast else ""
        if how == "left":
            kind = "LEFT OUTER JOIN"
        elif on:
            kind = "JOIN"
        else:
            kind = "CROSS JOIN"
        text = f"SELECT {hint}{sel} FROM {a.src('l')} {kind} {b.src('r')}"
        if on or how == "left":
            text += " ON " + (" AND ".join(on) or "true")
        return _Rel(text, out)

    def _compat_join(
        self,
        a: _Rel,
        b: _Rel,
        how: str,
        shared: list[str],
        compat: list[str],
        cond=None,
        broadcast: bool = False,
    ) -> _Rel:
        """Compatible-binding join for maybe-unbound shared variables.

        Inner form: decomposed into 3^n disjoint branches (n = number of
        compat variables; per variable: both-bound-and-equal / a-unbound /
        a-bound-and-b-unbound), each an equality-conjunct join that
        Catalyst extracts hash keys from — shuffle-hash/broadcast joinable
        at scale, never a nested loop. n is capped at 3 (the analysis
        over-approximates; real queries re-join one OPTIONAL variable);
        beyond that a single OR-condition join is still correct.

        Left form (OPTIONAL whose shared variable is itself maybe-null):
        inner compat result (filtered by ``cond``, the LeftJoin
        condition) plus the EXCEPT ALL complement of the matched left
        rows, null-extended — bag-exact.
        """
        a_cols = a.columns
        b_only = [c for c in b.columns if c not in a_cols]
        eq_shared = [c for c in shared if c not in compat]
        lang_shared = sorted(
            c for c in set(a_cols) & set(b.columns) if c.endswith("__lang")
        )
        left = how == "left"
        hint = "/*+ BROADCAST(`r`) */ " if broadcast else ""

        def L(c: str) -> str:
            return "`l`." + _q(c)

        def R(c: str) -> str:
            return "`r`." + _q(c)

        def join_text(sel: list[str], on: list[str]) -> str:
            return (
                f"SELECT {hint}{', '.join(sel)} FROM {a.src('l')} "
                f"JOIN {b.src('r')} ON {' AND '.join(on) or 'true'}"
            )

        def tail_sel() -> list[str]:
            sel = [f"{L(c)} AS {_q('__orig_' + c)}" for c in a_cols] if left else []
            return sel + [R(c) for c in b_only]

        if len(compat) <= 3:
            branches = []
            for kinds in itertools.product(
                ["both", "anull", "bnull"], repeat=len(compat)
            ):
                assign = dict(zip(compat, kinds))
                on: list[str] = []
                for c, kind in assign.items():
                    if kind == "anull":
                        on.append(f"{L(c)} IS NULL")
                    elif kind == "bnull":
                        on += [f"{L(c)} IS NOT NULL", f"{R(c)} IS NULL"]
                    else:  # both bound
                        on += [f"{L(c)} IS NOT NULL", f"{R(c)} IS NOT NULL"]
                for c in eq_shared:
                    on.append(f"{L(c)} = {R(c)}")
                for c, kind in assign.items():
                    if kind == "both":
                        on.append(f"{L(c)} = {R(c)}")
                for c in lang_shared:
                    base = c[: -len("__lang")]
                    if base in eq_shared or assign.get(base) == "both":
                        on.append(f"{L(c)} <=> {R(c)}")
                    # a-null branch: b's (value, lang) is taken wholesale;
                    # b-null branch: a's — no lang comparison either way.
                sel = []
                for c in a_cols:
                    base = c[: -len("__lang")] if c.endswith("__lang") else c
                    take_b = assign.get(base) == "anull" and c in b.columns
                    sel.append(f"{R(c) if take_b else L(c)} AS {_q(c)}")
                branches.append(join_text(sel + tail_sel(), on))
            inner_sql = " UNION ALL ".join(branches)
        else:
            # over-wide compat set: one OR-condition join (correct, rare)
            on = [f"{L(c)} = {R(c)}" for c in eq_shared]
            for c in compat:
                on.append(f"({L(c)} IS NULL OR {R(c)} IS NULL OR {L(c)} = {R(c)})")
            for c in lang_shared:
                base = c[: -len("__lang")]
                if base in compat:
                    on.append(
                        f"({L(base)} IS NULL OR {R(base)} IS NULL "
                        f"OR {L(c)} <=> {R(c)})"
                    )
                else:
                    on.append(f"{L(c)} <=> {R(c)}")
            sel = []
            for c in a_cols:
                base = c[: -len("__lang")] if c.endswith("__lang") else c
                if base in compat and c in b.columns:
                    sel.append(
                        f"CASE WHEN {L(base)} IS NULL THEN {R(c)} "
                        f"ELSE {L(c)} END AS {_q(c)}"
                    )
                else:
                    sel.append(f"{L(c)} AS {_q(c)}")
            inner_sql = join_text(sel + tail_sel(), on)
        origs = [f"__orig_{c}" for c in a_cols] if left else []
        inner = _Rel(inner_sql, a_cols + origs + b_only)
        if cond is not None:
            inner = _Rel(
                f"SELECT {_cols(inner.columns)} FROM {inner.src('c')} "
                f"WHERE {self.expr(cond, _env(inner))}",
                inner.columns,
            )
        if not left:
            return inner
        matched = ", ".join(f"{_q(o)} AS {_q(c)}" for o, c in zip(origs, a_cols))
        unmatched = (
            f"SELECT {_cols(a_cols)} FROM {a.src('u')} EXCEPT ALL "
            f"SELECT {matched} FROM {inner.src('m')}"
        )
        nulls = [f"{_NULL} AS {_q(c)}" for c in b_only]
        out = a_cols + b_only
        return _Rel(
            f"SELECT {_cols(out)} FROM {inner.src('i')} UNION ALL "
            f"SELECT {', '.join([_cols(a_cols)] + nulls)} "
            f"FROM ({unmatched}) AS `x`",
            out,
        )

    def _union(self, rels: list[_Rel]) -> _Rel:
        """Bag union by column name; a branch's missing variables are
        unbound (NULL) — unionByName with allowMissingColumns."""
        if len(rels) == 1:
            return rels[0]
        cols: list[str] = []
        for r in rels:
            cols += [c for c in r.columns if c not in cols]
        parts = [
            "SELECT "
            + ", ".join(
                _q(c) if c in r.columns else f"NULL AS {_q(c)}" for c in cols
            )
            + f" FROM {r.src('u')}"
            for r in rels
        ]
        return _Rel(" UNION ALL ".join(parts), cols)

    def _filter(self, rel: _Rel, cond_sql: str) -> _Rel:
        return _Rel(
            f"SELECT {_cols(rel.columns)} FROM {rel.src('t')} WHERE {cond_sql}",
            rel.columns,
        )

    def _drop(self, rel: _Rel, names) -> _Rel:
        keep = [c for c in rel.columns if c not in set(names)]
        return _Rel(f"SELECT {_cols(keep)} FROM {rel.src('t')}", keep)

    def _distinct(self, rel: _Rel) -> _Rel:
        return _Rel(
            f"SELECT DISTINCT {_cols(rel.columns)} FROM {rel.src('t')}",
            rel.columns,
        )

    def _materialize_exists(self, e, acc: _Rel):
        """EXISTS inside an expression (av-audio.sparql BIND(IF(EXISTS
        {..}, ..))) evaluates the group, semi-marks the accumulator via
        a left join on the shared variables, and rewrites the node to a
        marker test — the correlated subquery becomes one equi-join."""
        if not isinstance(e, tuple):
            return e, acc
        if e[0] == "exists_expr":
            sub = self.eval_group(e[1], None)
            assert sub is not None, "EXISTS over empty group"
            keys = sorted(set(_value_cols(acc)) & set(_value_cols(sub)))
            assert keys, "EXISTS group shares no variable with its scope"
            self._ex_n += 1
            marker = f"__ex{self._ex_n}"
            m = _Rel(
                f"SELECT DISTINCT {_cols(keys)}, true AS {_q(marker)} "
                f"FROM {sub.src('s')}",
                keys + [marker],
            )
            return ("exists_marker", marker), self._join(acc, m, how="left")
        out: list = [e[0]]
        for part in e[1:]:
            if isinstance(part, tuple):
                part, acc = self._materialize_exists(part, acc)
            elif isinstance(part, list):
                done = []
                for p2 in part:
                    p2, acc = self._materialize_exists(p2, acc)
                    done.append(p2)
                part = done
            out.append(part)
        return tuple(out), acc

    # -- scans
    def _graph_scope(self, graph: "str | None", where: list[str]) -> "str | None":
        """Append a pattern's graph filter; returns its graph variable."""
        if graph is None:
            if self.datasets:
                where.append(f"graph IN ({self.lits(self.datasets)})")
            return None
        if graph.startswith("?"):
            self.small_vars.add(graph[1:])
            return graph[1:]
        where.append(f"graph = {self.lit(graph)}")
        return None

    def pattern_scan(self, t: Triple) -> _Rel:
        where: list[str] = []
        sel: list[tuple[str, str]] = []
        p = t.p
        if isinstance(p, tuple) and p[0] == "nps":
            # negated property set: everything BUT the members — at
            # scale this is a full-store scan by construction (no
            # posting list can serve a negation), same as any engine
            where.append(f"NOT (predicate IN ({self.lits(p[1])}))")
        elif isinstance(p, str) and p.startswith("?"):
            sel.append(("predicate", p[1:]))
        elif isinstance(p, str) and "|" in p:
            where.append(f"predicate IN ({self.lits(p.split('|'))})")
        else:
            where.append(f"predicate = {self.lit(p)}")
        gvar = self._graph_scope(t.graph, where)
        if gvar is not None:
            sel.append(("graph", gvar))
        if t.s == t.o and t.s.startswith("?"):
            # self-referential pattern (?x p ?x): rows where subject
            # equals object, the variable bound once
            where.append("subject = object")
            sel += [("subject", t.s[1:]), ("lang", t.s[1:] + "__lang")]
        else:
            for term, col in ((t.s, "subject"), (t.o, "object")):
                if term.startswith("?"):
                    sel.append((col, term[1:]))
                    if col == "object":
                        sel.append(("lang", term[1:] + "__lang"))
                elif _is_lit(term):
                    value, lang = _lit_parts(term)
                    where.append(f"{col} = {self.lit(value)}")
                    if col == "object" and lang is not None:
                        where.append(f"lang = {self.lit(lang)}")
                else:
                    where.append(f"{col} = {self.lit(term)}")
        return _project(sel, f"FROM {_QUADS}{_where(where)}")

    @staticmethod
    def _triple_vars(t: Triple) -> set[str]:
        """Non-graph variables of a triple (path predicates hold no
        variables except the whole-predicate-var case)."""
        vs: set[str] = set()
        if t.s.startswith("?"):
            vs.add(t.s[1:])
        if isinstance(t.p, str) and t.p.startswith("?"):
            vs.add(t.p[1:])
        if t.o.startswith("?"):
            vs.add(t.o[1:])
        return vs

    def _greedy(self, units: list, cols: set[str]) -> list:
        """Greedy BGP join ordering over units whose last field is their
        variable set: always join next a unit that shares a
        HIGH-cardinality variable (an entity IRI — not a VALUES-bound or
        GRAPH-position variable) with what is already bound; fall back
        to any shared variable, then to listed order. Inner joins
        commute, so this is a pure physical reordering."""
        ordered: list = []
        rem = list(units)
        cols = set(cols)
        while rem:
            pick = None
            if cols:
                pick = next(
                    (u for u in rem if (u[-1] & cols) - self.small_vars), None
                )
                if pick is None:
                    pick = next((u for u in rem if u[-1] & cols), None)
            if pick is None:
                pick = rem[0]
            ordered.append(pick)
            rem.remove(pick)
            cols |= pick[-1]
        return ordered

    def _order_triples(self, triples: list[Triple], acc) -> list[Triple]:
        """The greedy join order of a BGP's triples after ``acc``."""
        if len(triples) < 2:
            return triples
        for t in triples:
            if t.graph is not None and t.graph.startswith("?"):
                self.small_vars.add(t.graph[1:])
        cols = set(_value_cols(acc)) if acc is not None else set()
        units = [(t, self._triple_vars(t)) for t in triples]
        return [u[0] for u in self._greedy(units, cols)]

    def _star_ok(self, t: Triple) -> bool:
        """Star-fusion eligibility of one triple: subject variable,
        constant plain/alternation predicate, no self-reference, no
        variable-graph collision."""
        return (
            isinstance(t.p, str)
            and not t.p.startswith("?")
            and t.s.startswith("?")
            and t.s != t.o
            and not (
                t.graph is not None
                and t.graph.startswith("?")
                and t.graph in (t.s, t.o)
            )
        )

    def _star_groups(
        self, triples: list[Triple], keep_single: "frozenset | set" = frozenset()
    ) -> tuple[list[tuple[tuple, list[Triple]]], list[Triple]]:
        """Partition a BGP into star-fusable groups and the rest. A
        star = >= 2 triples sharing one SUBJECT VARIABLE and one graph
        scope whose predicates are constants (plain IRIs or all-plain
        alternations — the shapes pattern_scan serves with a predicate
        equality / IN filter). Excluded per triple: self-referential
        patterns (?x p ?x), an object variable already bound by an
        earlier star member (the repeat enforces EQUALITY, which the
        pivot does not), and object/subject variables colliding with a
        variable graph position."""
        groups: dict[tuple, list[Triple]] = {}
        rest: list[Triple] = []
        seen_ovars: dict[tuple, set[str]] = {}
        for t in triples:
            ok = self._star_ok(t)
            key = (t.s, t.graph)
            if ok and t.o.startswith("?"):
                ovars = seen_ovars.setdefault(key, set())
                if t.o in ovars:
                    ok = False
                else:
                    ovars.add(t.o)
            if ok:
                groups.setdefault(key, []).append(t)
            else:
                rest.append(t)
        stars: list[tuple[tuple, list[Triple]]] = []
        for key, ts in groups.items():
            if len(ts) >= 2 or key in keep_single:
                stars.append((key, ts))
            else:
                rest.extend(ts)
        return stars, rest

    def _star_scan(
        self,
        key: tuple,
        ts: list[Triple],
        opt_ts: "list[tuple[Triple, list]] | tuple" = (),
        values: "dict[str, list[str]] | None" = None,
    ) -> tuple[_Rel, set[str]]:
        """Property-table star fusion (the classic RDF property-table
        layout, applied per-BGP): n constant-predicate triples sharing
        one subject variable read as ONE ``predicate IN (p1..pn)``
        scan + ONE GROUP BY subject pivot, replacing n scans and n-1
        subject-key self-joins. Bag semantics are EXACT: per subject
        the self-join result is the cross product of each triple's
        match multiset; the pivot collects each triple's matches into
        its own array (guarded by that triple's predicate/object/lang
        tests, exactly pattern_scan's filters) and re-expands with one
        LATERAL VIEW explode per triple — the same cross product with
        the same multiplicities, langs carried inside the collected
        structs. The inner-star requirement (every triple matches >= 1
        row) is a HAVING size() filter before the explodes, so
        non-qualifying subjects never expand. Cost at 100 TB: one scan
        of the fused predicate slice + one subject exchange instead of
        n scans and n join exchanges — the scan-stage count
        (driver/scheduler pressure at 1000 executors) drops by n-1 per
        star. Memory: the collected arrays are bounded by per-entity
        property fan-out (the data model's functional-ish predicates),
        the standard property-table tradeoff.

        The pivot is one segment: it is checkpointed PRE-explode, one
        array row per subject, and the explode reads the checkpoint as
        a frame argument. Without a per-star materialization the
        plan-cache-warm walls double (sf0.1, warm min-of-3: issues
        16.0 s without vs 7.5 s with, av_audio_org 8.9 vs 3.8, deletes
        2.6 vs 1.4): repeated actions on a cached plan re-run every
        star pivot upstream of the LAST lazy checkpoint. The one-shot
        cost is ~10%, and the pre-explode rows are the small
        representation, never the star's exploded cross product.

        FAN-OUT GUARD (r12, the r11 verdict's one `weak`): on an
        adversarial store one hot (subject x predicate) with ~10^6
        matches would materialize a giant array in a single
        aggregation buffer — collect_list cannot spill WITHIN a
        group, an OOM class the classic join plan (which streams the
        same cross product) does not have. The ONE-per-query probe
        (_fanout_hot_buckets) detects hot subject BUCKETS; its result
        compiles into literal bucket-id IN filters that route hot
        buckets' subjects OUT of the pivot (their arrays never build)
        and onto the classic join path — per-member filtered scans of
        the same slice, inner-joined per required member and
        left-joined per optional member on the subject key:
        bit-identical bag semantics that stream through joins instead
        of buffering. An empty probe (the normal case) leaves the
        fused plan BIT-IDENTICAL to the unguarded pivot — zero extra
        branches, scans or stages.

        ``opt_ts`` carries OPTIONAL star members — single-triple
        OPTIONAL groups on the same subject (``OPTIONAL { ?s p ?v }``),
        each with the FILTERs of its group that mention only the
        triple's own variables (``OPTIONAL { ?s p ?v FILTER
        langMatches(lang(?v), "nl") }``); those filters join the
        member's condition. An optional member collects like a required
        one but takes NO size() filter and re-expands with LATERAL VIEW
        OUTER: per subject exactly k rows when k rows match, one
        all-null row when none do — the left join's multiplicity, fused
        into the same single scan. Its variables are NOT in the
        returned bound set, so downstream joins treat them
        compatible-binding, as a left join would. organization.sparql's
        8 single-triple OPTIONALs on ?org collapse from 8 scans + 8 left
        joins into this one scan.

        ``values`` (the group's VALUES in-lists) narrows the subject,
        a variable graph and each REQUIRED member's object variable to
        its list inside the scan filter, so the pivot never groups a
        subject the VALUES join would drop for that member. Optional
        members are not narrowed: their variable may stay unbound.

        Returns (relation, bound vars)."""
        values = values or {}
        svar, graph = key
        n_req = len(ts)
        members = list(ts) + [t for t, _ in opt_ts]
        member_filters = [[]] * n_req + [list(f) for _, f in opt_ts]
        pre: list[str] = []
        gcols = ["subject"]
        out_gvar = self._graph_scope(graph, pre)
        if out_gvar is not None:
            gcols.append("graph")
            if out_gvar in values:
                pre.append(f"graph IN ({self.lits(values[out_gvar])})")
        if svar[1:] in values:
            pre.append(f"subject IN ({self.lits(values[svar[1:]])})")
        conds: list[str] = []
        aggs: list[str] = []
        for i, t in enumerate(members):
            preds = t.p.split("|")
            parts = [
                f"predicate IN ({self.lits(preds)})"
                if len(preds) > 1
                else f"predicate = {self.lit(preds[0])}"
            ]
            env = {svar[1:]: "subject"}
            if out_gvar is not None:
                env[out_gvar] = "graph"
            if t.o.startswith("?"):
                if i < n_req and t.o[1:] in values:
                    parts.append(f"object IN ({self.lits(values[t.o[1:]])})")
                payload = "struct(object AS o, lang AS l)"
                env[t.o[1:]] = "object"
                env[t.o[1:] + "__lang"] = "lang"
            else:
                if _is_lit(t.o):
                    value, lang = _lit_parts(t.o)
                    parts.append(f"object = {self.lit(value)}")
                    if lang is not None:
                        parts.append(f"lang = {self.lit(lang)}")
                else:
                    parts.append(f"object = {self.lit(t.o)}")
                payload = "true"
            parts += [self.expr(f, env) for f in member_filters[i]]
            cond = "(" + " AND ".join(parts) + ")"
            conds.append(cond)
            aggs.append(
                f"collect_list(CASE WHEN {cond} THEN {payload} END) "
                f"AS `__st{i}`"
            )
        # The scan filter is the DISJUNCTION of the members' full
        # conditions, NOT a bare predicate IN: a const-object member
        # (``?x a <Class>``) keeps its object equality IN the pushed
        # filter, so parquet row-group pruning still applies per
        # member — a bare IN would drag the entire rdf:type slice
        # through the shuffle (measured 2.4x wall on the issues query).
        where = pre + ["(" + " OR ".join(conds) + ")"]

        # Fan-out guard routing (see _fanout_hot_buckets): the probe's
        # hot-bucket ids compile to literal IN filters. Empty probe
        # (the normal case) leaves the plan bit-identical to the
        # unguarded pivot. A pathological probe (very many hot
        # buckets — a store so skewed the literal list would bloat the
        # plan) demotes the WHOLE star to the classic join path via
        # constant-folded filters (filter(false) prunes the pivot
        # subtree at optimization time).
        hot_list = self._fanout_hot_buckets()
        hot_cond: str | None = None
        pivot_where = list(where)
        if hot_list:
            bucket = f"pmod(xxhash64(subject), {_FANOUT_BUCKETS})"
            if len(hot_list) > 2048:
                cold_cond, hot_cond = "false", "true"
            else:
                ids = ", ".join(str(int(b)) for b in hot_list)
                cold_cond = f"NOT ({bucket} IN ({ids}))"
                hot_cond = f"({bucket} IN ({ids}))"
            pivot_where.append(cold_cond)

        g_sql = ", ".join(gcols)
        text = (
            f"SELECT {g_sql}, {', '.join(aggs)} FROM {_QUADS} "
            f"WHERE {' AND '.join(pivot_where)} GROUP BY {g_sql}"
        )
        if n_req:
            text += " HAVING " + " AND ".join(
                f"size(`__st{i}`) >= 1" for i in range(n_req)
            )
        n_ckpt = self._star_ckpt_parts()
        pivot = self.checkpoint(
            _Rel(text, gcols + [f"__st{i}" for i in range(len(members))]),
            coalesce=n_ckpt,
        )
        views = " ".join(
            f"LATERAL VIEW {'' if i < n_req else 'OUTER '}"
            f"explode(`__st{i}`) `__t{i}` AS `__sx{i}`"
            for i in range(len(members))
        )
        cols = [svar[1:]]
        sel = [f"subject AS {_q(svar[1:])}"]
        hsel = [f"`__h0`.subject AS {_q(svar[1:])}"]
        bound = {svar[1:]}
        if out_gvar is not None:
            cols.append(out_gvar)
            sel.append(f"graph AS {_q(out_gvar)}")
            hsel.append(f"`__h0`.graph AS {_q(out_gvar)}")
            bound.add(out_gvar)
        for i, t in enumerate(members):
            if t.o.startswith("?"):
                v = t.o[1:]
                cols += [v, v + "__lang"]
                sel += [
                    f"`__sx{i}`.o AS {_q(v)}",
                    f"`__sx{i}`.l AS {_q(v + '__lang')}",
                ]
                hsel += [
                    f"`__h{i}`.`__ho{i}` AS {_q(v)}",
                    f"`__h{i}`.`__hl{i}` AS {_q(v + '__lang')}",
                ]
                if i < n_req:
                    bound.add(v)
        out = _Rel(
            f"SELECT {', '.join(sel)} FROM {pivot.src('__p')} {views}", cols
        )

        if hot_cond is not None:
            # Classic join path over the hot buckets' subjects only:
            # per-member scans of the SAME slice filtered to the hot
            # buckets, inner-joined per required member (the >= 1
            # requirement), left-joined per optional member
            # (explode_outer's multiplicity). The cross product
            # streams through the joins instead of buffering
            # per-subject arrays. It gets its own checkpoint so the
            # member scans stay out of the executed-plan print.
            froms = []
            for i, t in enumerate(members):
                items = list(gcols)
                if t.o.startswith("?"):
                    items += [f"object AS `__ho{i}`", f"lang AS `__hl{i}`"]
                scan = (
                    f"(SELECT {', '.join(items)} FROM {_QUADS} WHERE "
                    f"{' AND '.join(where + [hot_cond, conds[i]])}) AS `__h{i}`"
                )
                if i == 0:
                    froms.append(scan)
                else:
                    kind = "JOIN" if i < n_req else "LEFT OUTER JOIN"
                    on = " AND ".join(
                        f"`__h{i}`.{c} = `__h0`.{c}" for c in gcols
                    )
                    froms.append(f"{kind} {scan} ON {on}")
            hot = self.checkpoint(
                _Rel(f"SELECT {', '.join(hsel)} FROM {' '.join(froms)}", cols),
                coalesce=n_ckpt,
            )
            out = _Rel(f"{out.sql} UNION ALL {hot.sql}", cols)
        return out, bound

    def _fuse_union_branches(
        self, groups: list["Group"], acc: "_Rel | None"
    ) -> tuple[list[tuple[_Rel, set]], list["Group"]]:
        """UNION branch fusion — the posting-list optimization for the
        production query shape ``{?e p1 ?v1} UNION {?e p2 ?v2} UNION
        ...`` (newspaper.sparql strings 20+ such branches together):
        every single-triple branch with a constant predicate, variable
        subject/object and a constant graph scope compiles into ONE
        scan of ``predicate IN (p1..pn)`` whose rows map to per-branch
        columns by a predicate test, instead of n separate scans +
        plan trees. Branch-local FILTERs apply predicate-guarded (a
        row only has to satisfy its own branch's filter); BINDs add
        predicate-guarded columns. Exact bag semantics: each quad row
        matches exactly one branch because fused predicates are kept
        pairwise distinct — duplicates, multi-triple branches, paths,
        variable predicates/graphs and EXISTS expressions stay on the
        general per-branch path. Returns (fused relations, remaining
        groups)."""
        cands: list[tuple | None] = []
        for g in groups:
            t = None
            extras: list = []
            ok = True
            for el in g.elements:
                if el[0] == "triple":
                    if t is not None:
                        ok = False
                        break
                    t = el[1]
                elif el[0] in ("filter", "bind"):
                    # triple must come first: a BIND before its triple
                    # is an error on the per-branch path (BIND cannot
                    # start a group) and must stay one here
                    if t is None and el[0] == "bind":
                        ok = False
                        break
                    extras.append(el)
                else:
                    ok = False
                    break
            if (
                not ok
                or t is None
                or not isinstance(t.p, str)
                or t.p.startswith("?")
                or "|" in t.p
                or not t.s.startswith("?")
                or not t.o.startswith("?")
                or t.s == t.o
                or (
                    t.graph is not None
                    and t.graph.startswith("?")
                    and t.graph in (t.s, t.o)
                )
                or any(_expr_has_exists(el[-1]) for el in extras)
            ):
                cands.append(None)
            else:
                cands.append((t, extras))
        # Bucket by (graph scope, shared-with-acc key set): the fused
        # frame joins the accumulator on ITS value-column intersection,
        # so fusing a branch binding ?id with one binding ?serie would
        # make the join require both non-null and silently drop every
        # branch row (newspaper-collection.sparql mixes exactly those).
        # Predicates are kept pairwise distinct within a bucket.
        acc_cols = set(_value_cols(acc)) if acc is not None else set()
        buckets: dict[object, list[int]] = {}
        for i, c in enumerate(cands):
            if c is not None:
                t, extras = c
                branch_vars = {t.s[1:], t.o[1:]} | {
                    el[1][1:] for el in extras if el[0] == "bind"
                }
                if t.graph is not None and t.graph.startswith("?"):
                    branch_vars.add(t.graph[1:])
                key = (t.graph, frozenset(branch_vars & acc_cols))
                buckets.setdefault(key, []).append(i)
        fused_idx: set[int] = set()
        fused: list[tuple[_Rel, set]] = []
        for (gkey, _), idxs in buckets.items():
            seen_preds: set[str] = set()
            items: list[tuple] = []
            take: list[int] = []
            for i in idxs:
                t, extras = cands[i]
                if t.p in seen_preds:
                    continue
                seen_preds.add(t.p)
                items.append((t, extras))
                take.append(i)
            if len(items) < 2:
                continue  # nothing saved by fusing one branch
            fused_idx.update(take)
            # certainly-bound columns of the fused frame: variables
            # bound (as subject or object) by EVERY fused branch — all
            # other per-branch columns are predicate-guarded nulls —
            # plus the bucket's graph variable (bound on every row).
            n = len(items)
            bind_count: dict[str, int] = {}
            for t, _extras in items:
                for v in {t.s[1:], t.o[1:]}:
                    bind_count[v] = bind_count.get(v, 0) + 1
            f_cb = {v for v, c in bind_count.items() if c == n}
            if gkey is not None and gkey.startswith("?"):
                f_cb.add(gkey[1:])
            fused.append((self._fused_scan(gkey, items), f_cb))
        rest = [g for i, g in enumerate(groups) if i not in fused_idx]
        return fused, rest

    def _fused_scan(self, gkey: str | None, items: list[tuple]) -> _Rel:
        """Build the single-scan relation for a fused branch set."""
        where = [f"predicate IN ({self.lits([t.p for t, _ in items])})"]
        # variable graph position: bound from the graph column for
        # every fused row (same var for the whole bucket), never
        # dataset-filtered — exactly pattern_scan's treatment
        graph_var = self._graph_scope(gkey, where)
        # var -> guarded source columns: a var bound as subject by some
        # branches and object by others maps through one chained CASE.
        s_preds: dict[str, list[str]] = {}
        o_preds: dict[str, list[str]] = {}
        for t, _ in items:
            s_preds.setdefault(t.s[1:], []).append(t.p)
            o_preds.setdefault(t.o[1:], []).append(t.p)
        n_branches = len(items)
        sel: list[tuple[str, str]] = [("predicate", "predicate")]
        for v in {**s_preds, **o_preds}:
            if len(s_preds.get(v, ())) == n_branches and v not in o_preds:
                # bound as subject by EVERY branch (the common shared
                # entity var): no guard needed — every scanned row
                # belongs to some branch
                sel.append(("subject", v))
                continue
            whens = []
            if v in s_preds:
                whens.append(
                    f"WHEN predicate IN ({self.lits(s_preds[v])}) THEN subject"
                )
            if v in o_preds:
                whens.append(
                    f"WHEN predicate IN ({self.lits(o_preds[v])}) THEN object"
                )
            sel.append((f"CASE {' '.join(whens)} END", v))
        for v, preds in o_preds.items():
            sel.append(
                (f"CASE WHEN predicate IN ({self.lits(preds)}) THEN lang END",
                 v + "__lang")
            )
        if graph_var is not None:
            sel.append(("graph", graph_var))
        rel = _project(sel, f"FROM {_QUADS}{_where(where)}")
        # branch-local BINDs (predicate-guarded; rows of other branches
        # keep any same-named column they produced) then FILTERs
        # (guarded: a row only answers to its own branch's filter; a
        # NULL/error filter result drops the row, as eval_group does).
        guarded_filters: list[tuple[str, Any]] = []
        for t, extras in items:
            pk = f"predicate = {self.lit(t.p)}"
            for el in extras:
                if el[0] == "bind":
                    rel = self._bind(
                        rel,
                        el[1][1:],
                        f"CASE WHEN {pk} THEN {self.expr(el[2], _env(rel))}"
                        + (f" ELSE {_q(el[1][1:])}" if el[1][1:] in rel.columns else "")
                        + " END",
                    )
                else:
                    guarded_filters.append((pk, el[1]))
        if guarded_filters:
            env = _env(rel)
            rel = self._filter(
                rel,
                " AND ".join(
                    f"(CASE WHEN {pk} THEN {self.expr(f, env)} ELSE true END)"
                    for pk, f in guarded_filters
                ),
            )
        return self._drop(rel, ["predicate"])

    def _bind(self, rel: _Rel, var: str, sql: str) -> _Rel:
        """withColumn: replace ``var`` in place or append it."""
        if var in rel.columns:
            items = [(sql if c == var else _q(c), c) for c in rel.columns]
        else:
            items = [(_q(c), c) for c in rel.columns] + [(sql, var)]
        return _project(items, f"FROM {rel.src('t')}")

    _CLOSURE_KINDS = ("plus", "star", "opt")

    def _closure_scan(self, t: Triple) -> _Rel:
        """Lower a closure-path triple (``p+``/``p*``/``p?``) to a pair
        relation: the inner path's edge set evaluates through the
        normal BGP machinery (so it composes with seq/alt/inverse and
        graph scoping), then ``p+`` is the pointer-doubling transitive
        closure of that DataFrame (ceil(log2(depth)) keyed self-joins,
        never a corpus re-scan), ``p*`` adds the identity pair for
        every edge endpoint (the A28b ``kg_path_zero_or_more``
        contract), ``p?`` is edges plus those identities without the
        closure. The pair set enters the text as a frame argument;
        constant ends filter it and the result joins into the group
        like any pattern scan."""
        from prefect_flow_arc_kg_postgres_etl_spark.operators.triples import (
            transitive_closure,
        )

        kind, inner = t.p
        assert t.graph is None or not t.graph.startswith("?"), (
            "closure paths need a constant graph scope"
        )
        sv, ov = _fresh_var(), _fresh_var()
        parts: list[_Rel] = []
        for alt in _expand_path_triple(Triple(sv, inner, ov, t.graph)):
            part: _Rel | None = None
            for pat in alt:
                scan = self.pattern_scan(pat)
                part = scan if part is None else self._join(part, scan)
            assert part is not None
            parts.append(
                _project(
                    [(_q(sv[1:]), "child"), (_q(ov[1:]), "parent")],
                    f"FROM {part.src('e')}",
                )
            )
        edges = self.to_df(self._distinct(self._union(parts)))
        if kind == "plus":
            pairs = transitive_closure(edges)
        else:
            ident = (
                edges.select(F.col("child").alias("node"))
                .unionByName(edges.select(F.col("parent").alias("node")))
                .distinct()
            )
            ident = ident.select("node", F.col("node").alias("ancestor"))
            base = (
                transitive_closure(edges)
                if kind == "star"
                else edges.select(
                    F.col("child").alias("node"),
                    F.col("parent").alias("ancestor"),
                )
            )
            pairs = base.unionByName(ident).distinct()
        rel = self.frame_rel(pairs, ["node", "ancestor"])
        sel: list[tuple[str, str]] = []
        where: list[str] = []
        for term, col in ((t.s, "node"), (t.o, "ancestor")):
            if term.startswith("?"):
                sel.append((col, term[1:]))
                if col == "ancestor":
                    sel.append((_NULL, term[1:] + "__lang"))
            else:
                value = _lit_parts(term)[0] if _is_lit(term) else term
                where.append(f"{col} = {self.lit(value)}")
        return _project(sel, f"FROM {rel.src('c')}{_where(where)}")

    def eval_triples(
        self,
        triples: list[Triple],
        acc: "_Rel | None",
        acc_cb: set[str] | None = None,
        opt_triples: "list[tuple[Triple, list]] | None" = None,
        values: "dict[str, list[str]] | None" = None,
    ) -> _Rel:
        # Scans certainly bind their variables, so scan-to-scan joins
        # stay pure equi-joins; only the join against the accumulator
        # needs compatible-binding treatment for variables the
        # accumulator may carry unbound (acc_cb = its certainly-bound
        # set; None = everything certainly bound, the historical
        # behavior for callers without OPTIONAL/UNION context).
        # ``values`` holds the group's VALUES in-lists
        # (_values_in_lists): each unit that certainly binds one of
        # those variables is filtered to its list before any join.
        # ``opt_triples`` are optional star members (triple, filters).
        values = values or {}

        def acc_compat(rel: _Rel) -> set[str]:
            if acc_cb is None:
                return set()
            return {c for c in _value_cols(rel) if c not in acc_cb}

        star_on = os.environ.get("SPARK_GRAFT_SPARQL_STAR_FUSION", "1") != "0"
        star_units: list[tuple[_Rel, set[str]]] = []
        rest = triples
        had_internal = False
        opt_triples = opt_triples or []
        if star_on and (len(triples) >= 2 or opt_triples):
            # Pre-expand SINGLE-alternative property paths (a seq chain,
            # an all-plain alternation, an inverse of either) into their
            # plain conjunction triples so the pieces can join stars —
            # `?file premis:storedAt ?x . ?x rdf:value ?v` contributes
            # its head to the ?file star instead of a standalone scan.
            # Multi-alternative paths (union-of-rewrites + distinct) and
            # closures keep the per-triple path machinery.
            expanded: list[Triple] = []
            for t in triples:
                if isinstance(t.p, tuple) and _path_expandable(t.p):
                    alts = _expand_path_triple(t)
                    if len(alts) == 1:
                        expanded.extend(alts[0])
                        had_internal = had_internal or any(
                            pat.o.startswith("?__sq") or pat.s.startswith("?__sq")
                            for pat in alts[0]
                        )
                        continue
                expanded.append(t)
            opts_by_key: dict[tuple, list[tuple[Triple, list]]] = {}
            for t, fs in opt_triples:
                opts_by_key.setdefault((t.s, t.graph), []).append((t, fs))
            groups, rest = self._star_groups(
                expanded, keep_single=set(opts_by_key)
            )
            # eval_group defers an optional only when an eligible
            # required triple with its (subject, graph) key is pending,
            # so every optional finds its star here.
            assert all(
                k in {g[0] for g in groups} for k in opts_by_key
            ), "optional star member without a star"
            # Star compilation runs on a small thread pool (r13, guide
            # §2.6 applied to DRIVER-side work): each star's compact
            # checkpoint (`_truncate_lineage`) calls toRdd, which runs
            # the FULL Catalyst analysis/optimization/physical planning
            # of that star's segment synchronously. The stars of one
            # flush are disjoint segments planned independently
            # (Catalyst is thread-safe per session), so the plannings
            # overlap; results keep listcomp order via pool.map. The
            # fan-out probe is prefetched once — its per-store cache
            # would otherwise race and run the probe job per thread.
            def star(kt):
                return self._star_scan(
                    kt[0], kt[1], opts_by_key.get(kt[0], ()), values
                )

            if len(groups) > 1:
                self._fanout_hot_buckets()
                with ThreadPoolExecutor(max_workers=min(8, len(groups))) as pool:
                    star_units = list(pool.map(star, groups))
            else:
                star_units = [star(g) for g in groups]

        def eval_one(t: Triple) -> tuple[_Rel, set[str]]:
            p = t.p
            if (
                isinstance(p, tuple)
                and p[0] == "inv"
                and isinstance(p[1], tuple)
                and p[1][0] in self._CLOSURE_KINDS
            ):
                t = Triple(t.o, p[1], t.s, t.graph)
                p = t.p
            if isinstance(p, tuple) and p[0] in self._CLOSURE_KINDS:
                return self._closure_scan(t), _path_endpoint_vars(t)
            parts: list[_Rel] = []
            for alt in _expand_path_triple(t):
                part: _Rel | None = None
                for pat in alt:
                    scan = self.pattern_scan(pat)
                    part = scan if part is None else self._join(part, scan)
                assert part is not None
                # drop only vars THIS expansion introduced — a triple
                # spliced from pre-expansion has a __sq var as its OWN
                # endpoint (the seq chain's join key), which must stay
                ends = {v[1:] for v in (t.s, t.o) if v.startswith("?")}
                internal = [
                    c
                    for c in part.columns
                    if c.startswith("__sq")
                    and c not in ends
                    and not (c.endswith("__lang") and c[:-6] in ends)
                ]
                if internal:
                    part = self._drop(part, internal)
                parts.append(part)
            rel = self._union(parts)
            if len(parts) > 1:
                rel = self._distinct(rel)
            return rel, _path_endpoint_vars(t)

        # Unified greedy fold over star relations and leftover triples:
        # star relations link on their subject/object entity variables
        # like any scan.
        for t in rest:
            if t.graph is not None and t.graph.startswith("?"):
                self.small_vars.add(t.graph[1:])
        pending: list[tuple] = [
            ("star", rel, vars_) for rel, vars_ in star_units
        ]
        for t in rest:
            gv = (
                {t.graph[1:]}
                if (t.graph is not None and t.graph.startswith("?"))
                else set()
            )
            pending.append(("triple", t, self._triple_vars(t) | gv))
        cols: set[str] = set(_value_cols(acc)) if acc is not None else set()
        for kind, unit, unit_vars in self._greedy(pending, cols):
            if kind == "star":
                rel, bound = unit, unit_vars
            else:
                rel, bound = eval_one(unit)
                narrow = sorted(bound & set(values))
                if narrow:
                    rel = self._filter(
                        rel,
                        " AND ".join(
                            f"{_q(v)} IN ({self.lits(values[v])})" for v in narrow
                        ),
                    )
            acc = rel if acc is None else self._join(acc, rel, compat=acc_compat(acc))
            if acc_cb is not None:
                acc_cb |= bound
        if had_internal and acc is not None:
            internal = [c for c in acc.columns if c.startswith("__sq")]
            if internal:
                acc = self._drop(acc, internal)
        return acc  # type: ignore[return-value]

    # Elements folded into the accumulator between lineage truncations.
    # A 70-OPTIONAL production query compiles to a DAG whose LATE
    # stages each serialize the ENTIRE upstream tree into their task
    # binaries (~2 MB x hundreds of stages, all pinned until the job
    # ends) — a default-sized 1 GB driver/executor JVM OOMs on plan
    # TEXT before any data pressure. A lazy localCheckpoint every
    # _TRUNCATE_EVERY accumulator folds caps task-binary size at a
    # constant: the checkpoint materializes rows once (they are all
    # consumed downstream anyway) and every later stage serializes
    # from the checkpoint scan. Measured: newspaper/av queries at
    # sf0.01 go OOM -> green on a PLAIN 1 GB session, with wall
    # unchanged on the 16 GB harness.
    _TRUNCATE_EVERY = 8

    def eval_group(self, g: Group, acc: "_Rel | None") -> "_Rel | None":
        filters = []
        pending_triples: list[Triple] = []
        folds = 0

        def truncate(rel: _Rel, n: int = 1) -> _Rel:
            nonlocal folds
            before = folds // self._TRUNCATE_EVERY
            folds += n
            if folds // self._TRUNCATE_EVERY > before:
                return self.checkpoint(rel)
            return rel

        # Certainly-bound variables of the accumulator (SPARQL §18.2.1
        # static analysis): a shared variable OUTSIDE this set may be
        # unbound (OPTIONAL / UNION / UNDEF-introduced) and joins
        # against it use compatible-binding semantics; everything
        # inside keeps the hash equi-join fast path.
        cb: set[str] = set()

        def compat_for(b: _Rel, b_cb: set[str]) -> set[str]:
            assert acc is not None
            shared = set(_value_cols(acc)) & set(_value_cols(b))
            return {c for c in shared if c not in cb or c not in b_cb}

        star_on = os.environ.get("SPARK_GRAFT_SPARQL_STAR_FUSION", "1") != "0"
        pending_optionals: list[tuple[Triple, list]] = []
        scan_values = _values_in_lists(g)

        def flush_triples():
            nonlocal acc, pending_triples, pending_optionals
            if pending_triples:
                acc = truncate(
                    self.eval_triples(
                        pending_triples,
                        acc,
                        acc_cb=cb,
                        opt_triples=pending_optionals,
                        values=scan_values,
                    ),
                    n=len(pending_triples) + len(pending_optionals),
                )
                pending_triples = []
                pending_optionals = []

        def _optional_star_member(og: "Group") -> "tuple[Triple, list] | None":
            """A single-triple OPTIONAL group attachable as an optional
            star member (see _star_scan): same (subject var, graph
            scope) as an eligible PENDING required triple, a fresh
            variable object, and FILTERs (if any) that mention only the
            triple's own variables and parameters — any name reuse
            (already in the accumulator, certainly-bound, or used by a
            pending triple or optional) or a filter over an outer
            variable falls back to the per-group left join, which owns
            compatible-binding semantics and the LeftJoin condition."""
            if not star_on or not og.elements or og.elements[0][0] != "triple":
                return None
            t = og.elements[0][1]
            rest = og.elements[1:]
            if any(x[0] != "filter" or _expr_has_exists(x[1]) for x in rest):
                return None
            if not (
                self._star_ok(t)
                and isinstance(t.o, str)
                and t.o.startswith("?")
            ):
                return None
            own = _path_endpoint_vars(t)
            fs = [x[1] for x in rest]
            if any(_expr_vars(f) - own - set(self.params) for f in fs):
                return None
            var = t.o[1:]
            used: set[str] = set(cb)
            if acc is not None:
                used |= set(_value_cols(acc))
            for pt in pending_triples:
                used |= self._triple_vars(pt)
            for pt, _ in pending_optionals:
                used |= self._triple_vars(pt)
            if var in used:
                return None
            anchored = any(
                self._star_ok(pt) and pt.s == t.s and pt.graph == t.graph
                for pt in pending_triples
            )
            return (t, fs) if anchored else None

        for el in g.elements:
            kind = el[0]
            if kind == "triple":
                if pending_optionals:
                    ov = {t.o[1:] for t, _ in pending_optionals}
                    if self._triple_vars(el[1]) & ov:
                        # the new triple re-binds a deferred optional's
                        # variable: flush (star + optionals) first so
                        # the rebind takes the compat-join path
                        flush_triples()
                pending_triples.append(el[1])
                continue
            if kind == "optional":
                member = _optional_star_member(el[1])
                if member is not None:
                    pending_optionals.append(member)
                    continue
            flush_triples()
            if kind == "optional":
                assert acc is not None, "OPTIONAL cannot start a group"
                og = el[1]
                # The group's FILTERs are the LeftJoin condition
                # (§18.2.2). One over variables the group certainly
                # binds is the same filter inside the group; one that
                # mentions anything else (an outer variable, one the
                # group may leave unbound) is evaluated over the merged
                # row, in the join.
                og_cb = _group_cb(og) | set(self.params)
                cond_fs = [
                    x
                    for x in og.elements
                    if x[0] == "filter"
                    and not _expr_has_exists(x[1])
                    and not _expr_vars(x[1]) <= og_cb
                ]
                if cond_fs:
                    og = Group(
                        [x for x in og.elements if all(x is not c for c in cond_fs)]
                    )
                opt = self.eval_group(og, None)
                if opt is not None:
                    acc = truncate(
                        self._join(
                            acc,
                            opt,
                            how="left",
                            compat=compat_for(opt, _group_cb(og)),
                            cond=_conj([x[1] for x in cond_fs]),
                        )
                    )
            elif kind == "union":
                branch_cbs = [_group_cb(b) for b in el[1]]
                union_cb = set(branch_cbs[0]) if branch_cbs else set()
                for s in branch_cbs[1:]:
                    union_cb &= s
                fused, rest = self._fuse_union_branches(el[1], acc)
                rest_set = {id(b) for b in rest}
                rest_cbs = [
                    c for b, c in zip(el[1], branch_cbs) if id(b) in rest_set
                ]
                branches = [f for f, _ in fused] + [
                    self.eval_group(b, None) for b in rest
                ]
                # per-branch certainly-bound sets, aligned with
                # `branches`: a fused relation certainly binds only the
                # variables bound by every branch it fuses (other
                # per-branch columns are predicate-guarded nulls).
                branch_cb_list = [c for _, c in fused] + rest_cbs
                if acc is None:
                    non_empty = [b for b in branches if b is not None]
                    assert non_empty, "union of empty groups"
                    acc = self._union(non_empty)
                    cb |= union_cb
                else:
                    # Join(acc, Union(b1..bn)) distributes over the
                    # union — but joining per branch recomputes the acc
                    # subtree n times. Branches sharing the SAME key
                    # set with acc union FIRST and join once (legal
                    # because within a group the join keys coincide and
                    # branch rows are fully bound on them); each empty
                    # {} branch contributes acc itself. person.sparql's
                    # 5-branch union evaluates acc twice, not 5 times.
                    groups: dict[frozenset, list[tuple[_Rel, set]]] = {}
                    identity = 0
                    for b, b_cb in zip(branches, branch_cb_list):
                        if b is None:
                            identity += 1
                            continue
                        shared = frozenset(
                            set(_value_cols(acc)) & set(_value_cols(b))
                        )
                        groups.setdefault(shared, []).append((b, b_cb))
                    unions: list[tuple[list[str], _Rel, set[str]]] = []
                    for shared, rels in groups.items():
                        g_cb = set(rels[0][1])
                        for _, r_cb in rels[1:]:
                            g_cb &= r_cb
                        unions.append(
                            (sorted(shared), self._union([r for r, _ in rels]), g_cb)
                        )
                    if (
                        identity == 1
                        and len(unions) == 1
                        and unions[0][0]
                        and not compat_for(unions[0][1], unions[0][2])
                    ):
                        # {} UNION {b1} .. {bn}, one key set: evaluate
                        # acc ONCE via a left join against the branch
                        # union extended with one null-binding row per
                        # distinct key — matched acc rows get their
                        # bare copy from that row, unmatched from the
                        # left join itself. Exact bag semantics. (Only
                        # when every key is certainly bound on both
                        # sides — the injected null-binding row would
                        # otherwise collide with compatible-binding
                        # matching of genuinely unbound keys.)
                        keys, u, _ = unions[0]
                        u2 = self._union(
                            [
                                u,
                                _Rel(
                                    f"SELECT DISTINCT {_cols(keys)} FROM {u.src('k')}",
                                    keys,
                                ),
                            ]
                        )
                        acc = truncate(self._join(acc, u2, how="left"), n=2)
                    else:
                        # The accumulator is about to be embedded once
                        # PER JOIN GROUP (plus once per {} branch) —
                        # across sequential unions that compounds
                        # multiplicatively (newspaper.sparql: 5 unions
                        # -> a 200+-scan executed plan, the r7-flagged
                        # driver-side hazard). A LAZY localCheckpoint
                        # materializes acc once at execution and every
                        # copy reads the stored blocks: plan width
                        # resets to the checkpoint scan. Only when acc
                        # is genuinely multiply-embedded.
                        if len(unions) + identity >= 2:
                            acc = self.checkpoint(acc)
                        parts = [
                            self._join(acc, u, compat=compat_for(u, g_cb))
                            for _, u, g_cb in unions
                        ]
                        parts.extend([acc] * identity)
                        acc = truncate(self._union(parts), n=2)
                    if identity == 0:
                        cb |= union_cb
            elif kind == "subselect":
                # { SELECT ... }: evaluate the subquery to a solution
                # set and join it on its projected variables. Projected
                # columns are plain values (lang tags do not survive
                # projection — the outer join is value equality).
                sub = el[1]
                sub_bindings = self.eval_group(sub.where, None)
                assert sub_bindings is not None, "empty subselect WHERE"
                sub_rel = _lower_select(self, sub, sub_bindings)
                el_cb = _element_cb(el, cb)
                acc = (
                    sub_rel
                    if acc is None
                    else self._join(acc, sub_rel, compat=compat_for(sub_rel, el_cb))
                )
                cb |= el_cb
            elif kind == "group":
                inner = self.eval_group(el[1], None)
                if inner is not None:
                    el_cb = _group_cb(el[1])
                    acc = (
                        inner
                        if acc is None
                        else self._join(acc, inner, compat=compat_for(inner, el_cb))
                    )
                    cb |= el_cb
            elif kind == "minus":
                assert acc is not None, "MINUS cannot start a group"
                acc = self._exists_join(acc, kind, el[1], cb)
            elif kind in ("filter", "not_exists", "exists"):
                # FILTER [NOT] EXISTS is a filter too: it applies at
                # group end, after every element binds (SPARQL §18.2.2)
                filters.append(el)
            elif kind == "bind":
                assert acc is not None, "BIND cannot start a group"
                var = el[1][1:]
                expr, acc = self._materialize_exists(el[2], acc)
                acc = self._bind(acc, var, self.expr(expr, _env(acc)))
                if _expr_certainly_bound(el[2], cb):
                    cb.add(var)
            elif kind == "values":
                vars_, rows = el[1], el[2]
                names = [v[1:] for v in vars_]
                self.small_vars.update(names)
                table = self._values(
                    names,
                    [
                        tuple(None if t is None else _lit_parts(t)[0] for t in row)
                        for row in rows
                    ],
                )
                el_cb = _element_cb(el, cb)
                acc = (
                    table
                    if acc is None
                    else self._join(
                        acc,
                        table,
                        compat=compat_for(table, el_cb),
                        broadcast=True,
                    )
                )
                cb |= el_cb
            else:
                raise ValueError(f"unknown group element {kind!r}")
        flush_triples()
        for kind, f in filters:
            assert acc is not None, "FILTER over empty group"
            if kind == "filter":
                f, acc = self._materialize_exists(f, acc)
                acc = self._filter(acc, self.expr(f, _env(acc)))
            else:
                acc = self._exists_join(acc, kind, f, cb)
        return acc

    def _exists_join(
        self, acc: _Rel, kind: str, group: Group, acc_cb: set[str]
    ) -> _Rel:
        """FILTER EXISTS (semi join), FILTER NOT EXISTS and MINUS (anti
        joins) on the variables ``group`` shares with ``acc``. A MINUS
        group sharing none removes nothing (§8.3's disjoint-domain
        identity); an EXISTS group sharing none is refused.

        A shared variable bound in every solution on both sides is a
        hash join key. One that may be unbound (outside ``acc_cb`` or
        the group's certainly-bound set) matches compatibly: unbound on
        either side matches anything, as in ``_compat_join``. MINUS
        additionally needs one shared variable bound on both sides
        (§8.3: dom(mu) and dom(mu') must intersect)."""
        sub = self.eval_group(group, None)
        assert sub is not None, f"empty {kind} group"
        keys = sorted(set(_value_cols(acc)) & set(_value_cols(sub)))
        if not keys:
            assert kind == "minus", "FILTER [NOT] EXISTS shares no variable"
            return acc
        how = "LEFT SEMI" if kind == "exists" else "LEFT ANTI"
        sub_cb = _group_cb(group)
        maybe = [k for k in keys if k not in acc_cb or k not in sub_cb]
        right = ", ".join(f"{_q(k)} AS {_q(k + '__x')}" for k in keys)
        on: list[str] = []
        overlap: list[str] = []
        for k in keys:
            a, b = f"`l`.{_q(k)}", f"`r`.{_q(k + '__x')}"
            if k in maybe:
                on.append(f"({a} IS NULL OR {b} IS NULL OR {a} = {b})")
                overlap.append(f"({a} IS NOT NULL AND {b} IS NOT NULL)")
            else:
                on.append(f"{a} = {b}")
        if kind == "minus" and maybe and len(maybe) == len(keys):
            on.append("(" + " OR ".join(overlap) + ")")
        return _Rel(
            f"SELECT {_cols(acc.columns, '`l`.')} FROM {acc.src('l')} "
            f"{how} JOIN (SELECT DISTINCT {right} FROM {sub.src('s')}) AS `r` "
            f"ON {' AND '.join(on)}",
            acc.columns,
        )

    # -- expressions
    def _decimal_exact_shape(self, node, sql: str) -> str:
        """Per-row guard for the exact-decimal comparison leg: TRUE iff the
        operand's lexical form fits decimal(38,10) with no rounding. For a
        compile-time literal the answer is folded to a constant; for a
        data-side operand it is an RLIKE over the string value."""
        if isinstance(node, tuple) and node[0] == "term":
            value, lang = _lit_parts(node[1])
            ok = lang is None and bool(re.match(_DECIMAL_EXACT_RE, value))
            return "true" if ok else "false"
        if isinstance(node, tuple) and node[0] == "boolean":
            return "false"
        return f"({sql} RLIKE {self.lit(_DECIMAL_EXACT_RE)})"

    def expr(self, e, env: dict[str, str]) -> str:
        """Render an expression to SQL over ``env`` (variable -> SQL
        reference). Literals and parameters become ``:pN`` markers."""

        def col_of(var: str) -> str:
            name = var[1:]
            if name in env:
                return env[name]
            if name in self.params:
                return self.lit(self.params[name])
            return _NULL

        def go(x) -> str:
            kind = x[0]
            if kind == "var":
                return col_of(x[1])
            if kind == "term":
                return self.lit(_lit_parts(x[1])[0])
            if kind == "boolean":
                return "true" if x[1] else "false"
            if kind == "exists_marker":
                return f"({env[x[1]]} IS NOT NULL)"
            if kind == "||":
                return f"({go(x[1])} OR {go(x[2])})"
            if kind == "&&":
                return f"({go(x[1])} AND {go(x[2])})"
            if kind == "!":
                return f"(NOT {go(x[1])})"
            if kind in ("=", "!=", "<", ">", "<=", ">="):
                a, b = go(x[1]), go(x[2])
                # SPARQL operator dispatch: when either operand is a
                # NUMBER-kind literal the comparison is numeric, not
                # lexicographic ("10" < "9" as strings, 10 > 9 as
                # numbers) — try_cast both sides so a non-numeric
                # store value yields NULL (type error -> no solution),
                # mirroring the num:* arithmetic treatment.
                if kind in ("<", ">", "<=", ">=") and (
                    _is_numeric_literal(x[1]) or _is_numeric_literal(x[2])
                ):
                    dbl = f"(try_cast({a} AS DOUBLE) {kind} try_cast({b} AS DOUBLE))"
                    ct = _numeric_cast_type(x[1], x[2])
                    if ct == "double":
                        return dbl
                    # Exact-decimal leg when BOTH lexical forms fit
                    # decimal(38,10); double leg otherwise (r10
                    # ADVICE: exponent-shaped / over-wide values
                    # must compare, not silently NULL out or round).
                    ok = (
                        f"({self._decimal_exact_shape(x[1], a)} AND "
                        f"{self._decimal_exact_shape(x[2], b)})"
                    )
                    return (
                        f"CASE WHEN {ok} THEN try_cast({a} AS {ct}) {kind} "
                        f"try_cast({b} AS {ct}) ELSE {dbl} END"
                    )
                return f"({a} {kind} {b})"
            if kind == "in":
                vals = [_expr_const(a) for a in x[2]]
                if not vals:
                    return "false"
                return f"({go(x[1])} IN ({self.lits(vals)}))"
            if kind.startswith("num:"):
                # SPARQL numeric ops over the string-typed store:
                # try_cast/try_divide make type errors and division by
                # zero yield NULL (SPARQL: an error COALESCE skips),
                # which ANSI-mode Spark would otherwise raise on —
                # av-audio.sparql's COALESCE(IF(.., 1/0), ..) idiom.
                a = f"try_cast({go(x[1])} AS DOUBLE)"
                b = f"try_cast({go(x[2])} AS DOUBLE)"
                op = kind[4:]
                num = f"try_divide({a}, {b})" if op == "/" else f"({a} {op} {b})"
                # back to the store's string domain so IF/COALESCE
                # branches don't ANSI-coerce their string siblings
                return f"CAST({num} AS STRING)"
            if kind == "call":
                return self.call(x[1], x[2], env, go)
            raise ValueError(f"bad expression node {x!r}")

        return go(e)

    def call(self, name: str, args: list, env: dict[str, str], go) -> str:
        if name == "BOUND":
            var = args[0][1][1:]
            if var in env:
                return f"({env[var]} IS NOT NULL)"
            return "true" if var in self.params else "false"
        if name == "LANG":
            lname = args[0][1][1:] + "__lang"
            return f"coalesce({env[lname]}, '')" if lname in env else "''"
        if name == "LANGMATCHES":
            lang, tag = go(args[0]), _expr_const(args[1])
            if tag == "*":
                return f"({lang} != '')"
            low = f"lower({lang})"
            t = tag.lower()
            return (
                f"(({low} = {self.lit(t)}) OR "
                f"startswith({low}, {self.lit(t + '-')}))"
            )
        if name in ("IRI", "URI", "STR"):
            return f"CAST({go(args[0])} AS STRING)"
        if name == "CONCAT":
            return "concat(" + ", ".join(
                f"CAST({go(a)} AS STRING)" for a in args
            ) + ")"
        if name == "MD5":
            return f"md5(CAST({go(args[0])} AS STRING))"
        if name == "COALESCE":
            return "coalesce(" + ", ".join(go(a) for a in args) + ")"
        if name == "REPLACE":
            pattern, repl = _expr_const(args[1]), _expr_const(args[2])
            return (
                f"regexp_replace({go(args[0])}, {self.lit(pattern)}, "
                f"{self.lit(repl)})"
            )
        if name == "IF":
            return (
                f"CASE WHEN {go(args[0])} THEN {go(args[1])} "
                f"ELSE {go(args[2])} END"
            )
        if name in ("STRSTARTS", "STRENDS", "CONTAINS"):
            fn = {"STRSTARTS": "startswith", "STRENDS": "endswith"}.get(
                name, "contains"
            )
            return f"{fn}({go(args[0])}, {go(args[1])})"
        if name in ("UCASE", "LCASE"):
            return f"{'upper' if name == 'UCASE' else 'lower'}({go(args[0])})"
        if name == "STRLEN":
            return f"length({go(args[0])})"
        if name == "SUBSTR":
            start = int(_expr_const(args[1]))
            length = int(_expr_const(args[2])) if len(args) > 2 else 1 << 30
            return (
                f"substring({go(args[0])}, {self.lit(start)}, {self.lit(length)})"
            )
        raise ValueError(f"unsupported SPARQL function {name}")


def _expr_const(e) -> str:
    if e[0] == "term":
        return _lit_parts(e[1])[0]
    raise ValueError(f"expected constant, got {e!r}")


# ---------------------------------------------------------------------------
# Public API


def parse(text: str) -> Query:
    return Parser(text).parse_query()


def _truncate_lineage(df: DataFrame, coalesce: "int | None" = None) -> DataFrame:
    """The one segment boundary of the SQL lowering. ``_Eval.checkpoint``
    compiles a segment's text with one ``spark.sql(text, args=...,
    **frames)`` — every literal and parameter a named ``args`` entry,
    every earlier segment a frame argument — and passes the result
    here; what this returns enters the next segment as the frame
    argument ``{fN}``, so each statement Catalyst analyses and
    optimizes stays one segment long. The boundaries are every star
    pivot, every ``_TRUNCATE_EVERY`` accumulator folds, and an
    accumulator a UNION embeds more than once.

    Durability: by default a LAZY executor-local DISK_ONLY
    localCheckpoint — checkpoint blocks must not compete with execution
    memory in a small heap, they are read once per downstream stage
    and stream fine from local disk. That is the right call on local
    mode and short single-tenant jobs, but localCheckpoint blocks DIE
    WITH THEIR EXECUTORS and truncated lineage cannot recompute: on a
    multi-hour cluster run one lost executor fails the query (the r8
    verdict's 100 TB watch item). SPARK_GRAFT_RELIABLE_CHECKPOINT=1
    switches to RELIABLE checkpoints under the session's checkpoint
    dir (defaulted beneath the warehouse — shared storage on a real
    cluster), which survive executor loss and driver restarts.

    Either checkpoint is planned in a throwaway clone of the frame's
    session with AQE off, and the result is rebound to the caller's
    session. Even a lazy checkpoint calls ``queryExecution.toRdd``,
    and under AQE ``AdaptiveSparkPlanExec.execute`` runs every shuffle
    stage of the subtree at call time: on the issues query (sf0.1)
    its 22 truncation points ran their star pivots one after another,
    33.4 s of a 47.5 s cold compile. A non-adaptive plan keeps toRdd
    lazy, so the first action runs every star subtree in one job DAG.
    The star pivots lose little (scan -> filter -> hash aggregate, no
    joins to re-plan), and the query the checkpoints feed still plans
    under the caller's AQE. The clone (``cloneSession``, not
    ``newSession``, which drops runtime conf) carries the caller's
    conf, and the caller's session conf is never written, so no other
    thread's or session's queries plan differently meanwhile.

    Because the non-adaptive plan cannot coalesce its output by size,
    callers whose checkpointed frame is known-small (the per-subject
    star pivots) pass ``coalesce`` to bound the block count — without
    it every checkpoint holds one block per static shuffle partition,
    and a 22-truncation query leaves 3.5x the storage blocks
    (measured: 1474 vs 419), slowing every warm re-read and the whole
    session's block manager."""
    from pyspark.storagelevel import StorageLevel

    if coalesce:
        df = df.coalesce(coalesce)
    spark = df.sparkSession
    sc = spark.sparkContext
    subtree = _unadaptive(df)
    if os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT") == "1":
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
            sc.setCheckpointDir(f"{wh.rstrip('/')}/_sparql_checkpoints")
        ckpt = subtree.checkpoint(False)
    else:
        ckpt = subtree.localCheckpoint(
            False, sc._getJavaStorageLevel(StorageLevel.DISK_ONLY)
        )
    rows = sc._jvm.org.apache.spark.sql.classic.Dataset.ofRows
    return ClassicFrame(rows(spark._jsparkSession, ckpt.logicalPlan()), spark)


def _unadaptive(df: DataFrame):
    """``df``'s plan as a (Java) Dataset of a throwaway clone of its
    session with AQE off; the caller's session conf is never written
    (see _truncate_lineage)."""
    spark = df.sparkSession
    planner = spark._jsparkSession.cloneSession()
    planner.conf().set("spark.sql.adaptive.enabled", "false")
    rows = spark.sparkContext._jvm.org.apache.spark.sql.classic.Dataset.ofRows
    return rows(planner, df._jdf.logicalPlan())


# Prepared-plan cache: the reference runner executes the same nine
# production query files every sync cycle (main_flow.py drives each
# record type's CONSTRUCT per run); compiling a 465-line file to a
# plan costs seconds of driver-side work that is identical
# across cycles. Keyed by (application, kind, quad-store analyzed-plan
# semantic hash, query text, params) — a store swap or param change
# misses; the cached object is only the immutable plan, never
# materialized data.
_PLAN_CACHE = AppLRU(64)

# Star-fusion fan-out probe results, keyed by (application, quads
# semanticHash, threshold) — see _Eval._fanout_hot_buckets.
_FANOUT_PROBE_CACHE = AppLRU(256)

# Cross-join size probe results, keyed by (application, right side's
# analyzed-plan semanticHash, cap) — see _Eval._cross_small.
_CROSS_PROBE_CACHE = AppLRU(256)


def clear_plan_cache() -> None:
    """Drop all prepared plans and probe results (tests that patch
    evaluator internals between runs of the same query text must bust
    the cache)."""
    _PLAN_CACHE.clear()
    _FANOUT_PROBE_CACHE.clear()
    _CROSS_PROBE_CACHE.clear()


def _bind_params_in_group(g: "Group", params: dict[str, str]) -> None:
    """Apply injected parameter bindings to TRIPLE PATTERNS, in place —
    the reference's runner substitutes parameter text into the query
    before sending (1_kg_view_construct.ts:47-63 binds ?maintainer_id
    per organisation), so a parameter variable in a pattern's object
    position must CONSTRAIN the scan, not bind from data. Expression
    references already resolve through _Eval.params; this closes the
    triple-position half. Parameters are plain literals (helpers.ts
    declares them as xsd literals), so only the object position can
    carry one."""
    for i, el in enumerate(g.elements):
        kind = el[0]
        if kind == "triple":
            t = el[1]
            if (
                isinstance(t.o, str)
                and t.o.startswith("?")
                and t.o[1:] in params
            ):
                g.elements[i] = (
                    "triple",
                    Triple(t.s, t.p, _lit_term(params[t.o[1:]]), t.graph),
                )
        elif kind in ("optional", "group", "minus", "not_exists", "exists"):
            _bind_params_in_group(el[1], params)
        elif kind == "union":
            for b in el[1]:
                _bind_params_in_group(b, params)
        elif kind == "subselect":
            _bind_params_in_group(el[1].where, params)


def _plan_cached(kind: str, quads: DataFrame, text: str, params, build):
    try:
        qh = quads._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        return build()
    spark = quads.sparkSession
    key = (kind, qh, text, tuple(sorted((params or {}).items())))
    hit = _PLAN_CACHE.get(spark, key)
    if hit is not MISS:
        return hit
    df = build()
    _PLAN_CACHE.put(spark, key, df)
    return df


def _where_rel(
    quads: DataFrame, query, params: dict[str, str] | None, datasets=None
) -> tuple[_Eval, "_Rel | None"]:
    """Bind parameters into the pattern and lower its WHERE clause."""
    if params:
        _bind_params_in_group(query.where, params)
    ev = _Eval(quads, query.datasets if datasets is None else datasets, params)
    return ev, ev.eval_group(query.where, None)


def _term_sql(ev: _Eval, term: str, cols) -> str:
    """A template term: a variable's value (unbound = NULL) or a constant."""
    if term.startswith("?"):
        name = term[1:]
        return f"CAST({_q(name)} AS STRING)" if name in cols else _NULL
    return ev.lit(_lit_parts(term)[0] if _is_lit(term) else term)


def _template_rel(ev: _Eval, fields: list[list[tuple[str, str]]], bindings: _Rel) -> _Rel:
    """ONE generator pass: every binding row emits all its template
    triples via inline(array(struct..)) — a per-template-triple select
    would recompute the whole join DAG once per triple (21x for
    person.sparql). Rows with an unbound subject, predicate or object
    emit nothing (SPARQL 1.1 §16.2), then the DISTINCT is the single
    shuffle."""
    names = [n for n, _ in fields[0]]
    structs = ", ".join(
        "struct(" + ", ".join(f"{s} AS {_q(n)}" for n, s in f) + ")" for f in fields
    )
    return _Rel(
        f"SELECT DISTINCT {_cols(names)} FROM (SELECT inline(array({structs})) "
        f"FROM {bindings.src('b')}) AS `i` WHERE subject IS NOT NULL "
        f"AND predicate IS NOT NULL AND object IS NOT NULL",
        names,
    )


def construct_query(
    quads: DataFrame, text: str, params: dict[str, str] | None = None
) -> DataFrame:
    """Parse SPARQL CONSTRUCT ``text`` and evaluate it against the quad
    DataFrame (subject, predicate, object, lang, graph). Returns the
    DISTINCT constructed triple set as (subject, predicate, object).

    ``params`` are injected initial bindings (``{"since": "...'"}``) —
    the engine-side equivalent of the reference runner's text
    substitution for ?since / ?prefix_id_base.

    Rows with any unbound template term emit no triple (SPARQL 1.1
    §16.2); the final distinct is the construct's single full shuffle.
    """
    return _plan_cached(
        "construct",
        quads,
        text,
        params,
        lambda: _construct_query_impl(quads, text, params),
    )


def _construct_query_impl(
    quads: DataFrame, text: str, params: dict[str, str] | None
) -> DataFrame:
    query = parse(text)
    ev, bindings = _where_rel(quads, query, params)
    assert bindings is not None, "WHERE clause produced no bindings frame"
    cols = set(bindings.columns)
    fields = []
    for t in query.template:
        assert isinstance(t.p, str), "CONSTRUCT template predicates are IRIs"
        fields.append(
            [
                ("subject", _term_sql(ev, t.s, cols)),
                ("predicate", _term_sql(ev, t.p, cols)),
                ("object", _term_sql(ev, t.o, cols)),
            ]
        )
    return ev.to_df(_template_rel(ev, fields, bindings))


def select_query(
    quads: DataFrame, text: str, params: dict[str, str] | None = None
) -> DataFrame:
    """Parse and evaluate a SPARQL SELECT (or ASK) against the quad
    DataFrame. SELECT supports projection variables, ``(expr AS ?v)``,
    aggregates (COUNT[ DISTINCT]/SUM/MIN/MAX/AVG, COUNT(*)), DISTINCT,
    GROUP BY, ORDER BY ASC()/DESC(), LIMIT and OFFSET. Numeric
    aggregates try_cast the string-typed store to double (SPARQL's
    numeric coercion); MIN/MAX stay lexical on the string domain —
    identical in DuckDB. ASK returns one row with a string ``ask``
    column ("true"/"false") so the result stays oracle-hashable."""
    query = parse(text)

    def build() -> DataFrame:
        ev, bindings = _where_rel(quads, query, params)
        assert bindings is not None, "WHERE clause produced no bindings frame"
        if query.form == "ask":
            n = ev.to_df(bindings).limit(1).count()
            return quads.sparkSession.createDataFrame(
                [(("true" if n else "false"),)], "ask string"
            )
        assert query.form == "select", f"use construct_query for {query.form}"
        return ev.to_df(_lower_select(ev, query, bindings))

    if query.form == "ask":
        # ASK materializes its answer at build time — caching would
        # freeze it against a store whose content changed in place.
        return build()
    return _plan_cached("select", quads, text, params, build)


def _lower_select(ev: _Eval, query: Query, bindings: _Rel) -> _Rel:
    """Projection/aggregation/modifier lowering of a (sub)SELECT over
    an evaluated solution set — shared by ``select_query`` and the
    ``{ SELECT ... }`` subquery element (whose output joins back into
    the enclosing group on its projected variables)."""
    env_b = _env(bindings)

    def agg_sql(func: str, arg, distinct: bool) -> str:
        if func == "COUNT":
            if arg is None:
                return "count(1)"
            c = ev.expr(arg, env_b)
            return f"count(DISTINCT {c})" if distinct else f"count({c})"
        c = ev.expr(arg, env_b)
        if func in ("SUM", "AVG"):
            c = f"try_cast({c} AS DOUBLE)"
        return f"{func.lower()}({c})"

    has_agg = any(item[0] == "agg" for item in query.select)
    if has_agg or query.group_by:
        aggs: list[tuple[str, str]] = []
        for item in query.select:
            kind = item[0]
            if kind == "agg":
                _, func, arg, adistinct, alias = item
                aggs.append((agg_sql(func, arg, adistinct), alias))
            elif kind == "var":
                assert item[1] in query.group_by, (
                    f"non-aggregated ?{item[1]} must appear in GROUP BY"
                )

        # Aggregate-call hoisting, shared by HAVING and expression
        # ORDER BY keys: each aggregate call becomes a hidden output
        # column of the ONE aggregation and the expression is
        # rewritten to reference it; hidden columns are dropped after
        # the post-agg filter/sort that needed them.
        def hoist(e):
            if isinstance(e, tuple):
                if e[0] == "call" and e[1] in Parser._AGG_FUNCS:
                    args = e[2]
                    arg = (
                        None
                        if not args or args[0] == ("star",)
                        else args[0]
                    )
                    name = f"__hav{len(aggs)}"
                    aggs.append((agg_sql(e[1], arg, False), name))
                    return ("var", "?" + name)
                return tuple(
                    hoist(x) if isinstance(x, (tuple, list)) else x
                    for x in e
                )
            if isinstance(e, list):
                return [
                    hoist(x) if isinstance(x, (tuple, list)) else x
                    for x in e
                ]
            return e

        having = query.having
        if having is not None:
            having = hoist(having)
        order_keys = [
            (key if isinstance(key, str) else hoist(key), asc)
            for key, asc in query.order_by
        ]
        items = [_q(v) for v in query.group_by] + [
            f"{s} AS {_q(a)}" for s, a in aggs
        ]
        text = f"SELECT {', '.join(items)} FROM {bindings.src('t')}"
        if query.group_by:
            text += f" GROUP BY {_cols(query.group_by)}"
        out = _Rel(text, list(query.group_by) + [a for _, a in aggs])
        if having is not None:
            out = ev._filter(out, ev.expr(having, _env(out)))
        keep = [
            i[1] if i[0] == "var" else i[-1] for i in query.select
        ] or [c for c in out.columns if not c.startswith("__hav")]
        # The keep-projection comes after ORDER BY so expression sort
        # keys can still read their hoisted hidden columns.
    else:
        order_keys = query.order_by
        items = []
        for item in query.select:
            if item[0] == "var":
                name = item[1]
                src = _q(name) if name in bindings.columns else _NULL
                items.append((src, name))
            else:
                _, expr, alias = item
                items.append((ev.expr(expr, env_b), alias))
        if not items:
            items = [(_q(c), c) for c in _value_cols(bindings)]
        out = _project(items, f"FROM {bindings.src('t')}")
        if query.distinct:
            out = ev._distinct(out)
        keep = out.columns
    if keep == out.columns and not (
        order_keys or query.limit is not None or query.offset is not None
    ):
        return out
    env_o = _env(out)
    text = f"SELECT {_cols(keep)} FROM {out.src('o')}"
    if order_keys:
        text += " ORDER BY " + ", ".join(
            (_q(key) if isinstance(key, str) else ev.expr(key, env_o))
            + (" ASC" if asc else " DESC")
            for key, asc in order_keys
        )
    if query.limit is not None:
        text += f" LIMIT {ev.lit(query.limit)}"
    if query.offset is not None:
        text += f" OFFSET {ev.lit(query.offset)}"
    return _Rel(text, keep)


def describe_query(
    quads: DataFrame, text: str, params: dict[str, str] | None = None
) -> DataFrame:
    """Parse and evaluate a SPARQL DESCRIBE: ``DESCRIBE <iri>...`` or
    ``DESCRIBE ?v ... WHERE { ... }`` (both may mix). The description
    of a resource set is its outgoing-arc closure depth 1 — every quad
    whose subject is a described resource, the same contract as the
    hand-built ``plans.kg.kg_describe`` — returned with the full quad
    schema. The resource set semi-joins the store on subject: one
    equi-join, broadcast when the set is small (AQE), and with a
    subject/predicate-partitioned layout the scan prunes."""
    return _plan_cached(
        "describe",
        quads,
        text,
        params,
        lambda: _describe_query_impl(quads, text, params),
    )


def _describe_query_impl(
    quads: DataFrame, text: str, params: dict[str, str] | None
) -> DataFrame:
    query = parse(text)
    assert query.form == "describe", f"not a DESCRIBE query: {query.form}"
    iris = [item[1] for item in query.select if item[0] == "iri"]
    vars_ = [item[1] for item in query.select if item[0] == "var"]
    assert iris or vars_, "DESCRIBE needs at least one resource or var"
    if vars_:
        ev, bindings = _where_rel(quads, query, params)
        assert bindings is not None, "DESCRIBE ?var needs a WHERE pattern"
    else:
        ev, bindings = _Eval(quads, query.datasets, params), None
    parts = [ev._values(["s"], [(i,) for i in iris])] if iris else []
    for v in vars_:
        assert v in bindings.columns, f"?{v} unbound in WHERE"
        parts.append(_project([(_q(v), "s")], f"FROM {bindings.src('b')}"))
    resources = ev._distinct(ev._union(parts))
    return ev.to_df(
        _Rel(
            f"SELECT `q`.* FROM {_QUADS} AS `q` LEFT SEMI JOIN "
            f"{resources.src('r')} ON `q`.subject = `r`.s",
            [],
        )
    )


_QUAD_COLS = ["subject", "predicate", "object", "lang", "graph"]


def _instantiate(ev: _Eval, tmpl: list[Triple], bindings: "_Rel | None") -> _Rel:
    """Instantiate an update template against a solution set (or, for
    ground DATA forms, against no bindings) into the distinct quad set
    (subject, predicate, object, lang, graph). Rows with any unbound
    term emit nothing (same rule as CONSTRUCT)."""
    if bindings is None:
        rows = []
        for t in tmpl:
            assert isinstance(t.p, str) and not t.p.startswith("?")
            for term in (t.s, t.o):
                assert not term.startswith("?"), (
                    "DATA forms must be ground (no variables)"
                )
            if _is_lit(t.o):
                value, lang = _lit_parts(t.o)
            else:
                value, lang = t.o, None
            s = _lit_parts(t.s)[0] if _is_lit(t.s) else t.s
            rows.append((s, t.p, value, lang, t.graph))
        return ev._distinct(ev._values(_QUAD_COLS, rows))
    cols = set(bindings.columns)

    def lang_sql(term: str) -> str:
        if term.startswith("?"):
            lc = term[1:] + "__lang"
            return _q(lc) if lc in cols else _NULL
        lang = _lit_parts(term)[1] if _is_lit(term) else None
        return _NULL if lang is None else ev.lit(lang)

    def graph_sql(g: str | None) -> str:
        if g is None:
            return _NULL
        return _term_sql(ev, g, cols) if g.startswith("?") else ev.lit(g)

    fields = []
    for t in tmpl:
        assert isinstance(t.p, str), "update template predicates are IRIs"
        fields.append(
            [
                ("subject", _term_sql(ev, t.s, cols)),
                ("predicate", _term_sql(ev, t.p, cols)),
                ("object", _term_sql(ev, t.o, cols)),
                ("lang", lang_sql(t.o)),
                ("graph", graph_sql(t.graph)),
            ]
        )
    return _template_rel(ev, fields, bindings)


def _quad_match(a: _Rel, b: _Rel, how: str) -> _Rel:
    """Null-safe whole-quad (LEFT SEMI / LEFT ANTI) join — term equality
    includes the lang tag and the graph, where NULL means 'no
    tag'/'default'."""
    on = " AND ".join(f"`a`.{_q(c)} <=> `m`.{_q(c)}" for c in _QUAD_COLS)
    return _Rel(
        f"SELECT {_cols(a.columns, '`a`.')} FROM {a.src('a')} {how} JOIN "
        f"{b.src('m')} ON {on}",
        a.columns,
    )


def _update_rels(
    quads: DataFrame, text: str, params: dict[str, str] | None
) -> tuple[_Eval, _Rel, _Rel, _Rel]:
    """(evaluator, store, deleted quads, inserted quads) of an update:
    deleted = instantiated delete-template quads present in the store;
    inserted = instantiated insert-template quads absent from the
    post-delete store. The WHERE solution set is lowered ONCE and feeds
    both templates."""
    up = Parser(text).parse_update()
    ev, bindings = _Eval(quads, [], params), None
    if up.where is not None:
        ev, bindings = _where_rel(quads, up, params, datasets=[])
        assert bindings is not None, "WHERE produced no bindings frame"
    store = _Rel(f"SELECT {_cols(_QUAD_COLS)} FROM {_QUADS}", _QUAD_COLS)
    empty = _project([(_NULL, c) for c in _QUAD_COLS], "WHERE false")
    deleted = added = empty
    if up.delete_tmpl:
        del_inst = _instantiate(ev, up.delete_tmpl, bindings)
        deleted = _quad_match(store, del_inst, "LEFT SEMI")
    if up.insert_tmpl:
        post = (
            _quad_match(store, _instantiate(ev, up.delete_tmpl, bindings), "LEFT ANTI")
            if up.delete_tmpl
            else store
        )
        added = _quad_match(_instantiate(ev, up.insert_tmpl, bindings), post, "LEFT ANTI")
    return ev, store, deleted, added


def update_delta(
    quads: DataFrame, text: str, params: dict[str, str] | None = None
) -> DataFrame:
    """Parse a SPARQL 1.1 Update and return its EFFECTIVE change set
    against the store: op='delete' rows are instantiated delete-template
    quads that exist in the store; op='insert' rows are instantiated
    insert-template quads absent from the post-delete store. Both are
    exact set semantics (SPARQL stores are quad SETS) — re-running the
    same update yields an empty delta. The WHERE solution set is
    computed ONCE and feeds both templates; the store is touched by two
    whole-quad hash joins (semi for deletes, anti for inserts), never
    row-at-a-time."""
    ev, _, deleted, added = _update_rels(quads, text, params)
    return ev.to_df(
        _Rel(
            f"SELECT {ev.lit('delete')} AS op, {_cols(_QUAD_COLS)} "
            f"FROM {deleted.src('d')} UNION ALL "
            f"SELECT {ev.lit('insert')} AS op, {_cols(_QUAD_COLS)} "
            f"FROM {added.src('n')}",
            ["op"] + _QUAD_COLS,
        )
    )


def update_apply(
    quads: DataFrame, text: str, params: dict[str, str] | None = None
) -> DataFrame:
    """Apply a SPARQL 1.1 Update to the store: post-state quad set
    (delete-then-insert, set semantics). Composes with the versioned
    store: land the result as the table's next version."""
    ev, store, deleted, added = _update_rels(quads, text, params)
    kept = _quad_match(store, deleted, "LEFT ANTI")
    return ev.to_df(ev._union([kept, added]))
