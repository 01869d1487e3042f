"""Property-based differential testing of the SPARQL text compiler.

Hypothesis generates small random quad stores and random queries
(BGPs with shared variables, OPTIONAL groups — also with a FILTER over
the optional triple's own variables or over an outer one — UNION
branches — including the fused single-pattern shape — equality
FILTERs, MINUS and FILTER NOT EXISTS, whose variables may be unbound in
a solution), renders them to query TEXT (so the parser is exercised
too), and compares ``construct_query``'s output against a 50-line
reference evaluator implementing SPARQL semantics directly
(compatible-binding joins, left-join OPTIONAL with its condition, bag
UNION, MINUS, group-end filters, distinct CONSTRUCT output). This pins
the compiler's algebra on shapes the nine production files never take.

Each test's example count scales with the loaded Hypothesis profile
(``_examples``): tools/ci.py runs the file under the ``ci`` profile
registered in tests/conftest.py, derandomized at five times the count.
"""

from __future__ import annotations

import os
import sys

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from prefect_flow_arc_kg_postgres_etl_spark.operators import sparql as SQ

SUBJECTS = [f"urn:s{i}" for i in range(4)]
PREDS = [f"urn:p{i}" for i in range(3)]
OBJECTS = [f"urn:o{i}" for i in range(3)] + SUBJECTS[:2]
VARS = ["?a", "?b", "?c"]


def _examples(n: int) -> int:
    """``n`` examples at Hypothesis' default profile (max_examples 100),
    scaled by the loaded profile's max_examples."""
    return max(1, n * settings.default.max_examples // 100)


quad_st = st.tuples(
    st.sampled_from(SUBJECTS), st.sampled_from(PREDS), st.sampled_from(OBJECTS)
)
store_st = st.lists(quad_st, min_size=1, max_size=14, unique=True)

term_s = st.one_of(st.sampled_from(VARS), st.sampled_from(SUBJECTS))
term_o = st.one_of(st.sampled_from(VARS), st.sampled_from(OBJECTS))
triple_st = st.tuples(term_s, st.sampled_from(PREDS), term_o)


def _bgp_vars(triples):
    return {t for tr in triples for t in (tr[0], tr[2]) if t.startswith("?")}


@st.composite
def query_st(draw):
    bgp = draw(st.lists(triple_st, min_size=1, max_size=3))
    bvars = sorted(_bgp_vars(bgp))
    # FILTER NOT EXISTS: one triple whose subject is a BGP variable (the
    # group must share a variable) and whose object may be any variable,
    # so it can meet one an OPTIONAL or UNION leaves unbound
    not_exists = st.none()
    if bvars:
        not_exists = st.one_of(
            st.none(),
            st.tuples(
                st.sampled_from(bvars),
                st.sampled_from(PREDS),
                st.one_of(st.sampled_from(VARS), term_o),
            ),
        )
    # a FILTER inside the OPTIONAL group: equality of its own variable
    # with a constant, langMatches on it (the store has no tags, so it
    # never holds), or equality with a variable that may be outer —
    # the LeftJoin condition
    opt_filter = st.one_of(
        st.none(),
        st.tuples(st.just("eq_const"), st.sampled_from(OBJECTS)),
        st.tuples(st.just("lang"), st.just("nl")),
        st.tuples(st.just("eq_var"), st.sampled_from(VARS)),
    )
    return {
        "bgp": bgp,
        "optional": draw(st.one_of(st.none(), triple_st)),
        "opt_filter": draw(opt_filter),
        "union": draw(st.one_of(st.none(), st.tuples(triple_st, triple_st))),
        "filter_eq": draw(st.booleans()),
        "minus": draw(st.one_of(st.none(), triple_st)),
        "not_exists": draw(not_exists),
    }


def _render(term: str) -> str:
    return term if term.startswith("?") else f"<{term}>"


def _render_triple(tr) -> str:
    return f"{_render(tr[0])} <{tr[1]}> {_render(tr[2])} ."


def _opt_filter(q):
    """(own variable, filter) of the OPTIONAL group, or None: the
    filter is about the optional triple's object variable, else its
    subject variable."""
    if q["optional"] is None or q["opt_filter"] is None:
        return None
    s, _, o = q["optional"]
    own = o if o.startswith("?") else s if s.startswith("?") else None
    return None if own is None else (own, q["opt_filter"])


def _render_opt_filter(own, f) -> str:
    kind, arg = f
    if kind == "eq_const":
        return f"FILTER ({own} = <{arg}>)"
    if kind == "lang":
        return f'FILTER langMatches(lang({own}), "{arg}")'
    return f"FILTER ({own} = {arg})"


def _holds(own, f, b) -> bool:
    """The OPTIONAL filter over a merged solution; an unbound variable
    is an error, which rejects."""
    kind, arg = f
    if own not in b:
        return False
    if kind == "eq_const":
        return b[own] == arg
    if kind == "lang":
        return False  # model 1's literals carry no language tag
    return arg in b and b[own] == b[arg]


def _to_text(q) -> str:
    lines = [_render_triple(t) for t in q["bgp"]]
    if q["not_exists"] is not None:
        # written first: it still applies at group end
        lines.append("FILTER NOT EXISTS { %s }" % _render_triple(q["not_exists"]))
    if q["optional"] is not None:
        of = _opt_filter(q)
        inner = _render_triple(q["optional"])
        if of is not None:
            inner += " " + _render_opt_filter(*of)
        lines.append("OPTIONAL { %s }" % inner)
    if q["union"] is not None:
        a, b = q["union"]
        lines.append(
            "{ %s } UNION { %s }" % (_render_triple(a), _render_triple(b))
        )
    if q["minus"] is not None:
        lines.append("MINUS { %s }" % _render_triple(q["minus"]))
    fvars = sorted(_bgp_vars(q["bgp"]))
    if q["filter_eq"] and len(fvars) >= 2:
        lines.append(f"FILTER ({fvars[0]} = {fvars[1]})")
    body = "\n  ".join(lines)
    return (
        "PREFIX out: <urn:out:>\n"
        "CONSTRUCT { ?a out:r1 ?b . ?b out:r2 ?c . ?a out:r3 <urn:k> }\n"
        "WHERE {\n  %s\n}" % body
    )


# ---- reference evaluator (SPARQL algebra on Python sets/lists) ----
def _match(tr, quads, binding):
    s, p, o = tr
    for qs, qp, qo in quads:
        if qp != p:
            continue
        b = dict(binding)
        ok = True
        for term, val in ((s, qs), (o, qo)):
            if term.startswith("?"):
                if term in b and b[term] != val:
                    ok = False
                    break
                b[term] = val
            elif term != val:
                ok = False
                break
        if ok:
            yield b


def _eval_bgp(triples, quads, bindings):
    for tr in triples:
        bindings = [b2 for b in bindings for b2 in _match(tr, quads, b)]
    return bindings


def _ref_eval(q, quads):
    sols = _eval_bgp(q["bgp"], quads, [{}])
    if q["optional"] is not None:
        # LeftJoin(sols, optional, F): F over the merged solution
        of = _opt_filter(q)
        out = []
        for b in sols:
            ext = [
                m
                for m in _match(q["optional"], quads, b)
                if of is None or _holds(*of, m)
            ]
            out.extend(ext if ext else [b])
        sols = out
    if q["union"] is not None:
        a, b_ = q["union"]
        out = []
        for b in sols:
            out.extend(_match(a, quads, b))
            out.extend(_match(b_, quads, b))
        sols = out
    # MINUS (§8.3): a solution goes iff some MINUS solution is
    # compatible with it and shares a bound variable with it
    if q["minus"] is not None:
        minus = list(_match(q["minus"], quads, {}))
        sols = [
            b
            for b in sols
            if not any(
                b.keys() & m.keys()
                and all(b[k] == m[k] for k in b.keys() & m.keys())
                for m in minus
            )
        ]
    fvars = sorted(_bgp_vars(q["bgp"]))
    if q["filter_eq"] and len(fvars) >= 2:
        sols = [
            b
            for b in sols
            if fvars[0] in b and fvars[1] in b and b[fvars[0]] == b[fvars[1]]
        ]
    # NOT EXISTS substitutes the solution's bindings into its triple;
    # a variable the solution leaves unbound matches anything
    if q["not_exists"] is not None:
        sols = [b for b in sols if not any(_match(q["not_exists"], quads, b))]
    out = set()
    for b in sols:
        if "?a" in b and "?b" in b:
            out.add((b["?a"], "urn:out:r1", b["?b"]))
        if "?b" in b and "?c" in b:
            out.add((b["?b"], "urn:out:r2", b["?c"]))
        if "?a" in b:
            out.add((b["?a"], "urn:out:r3", "urn:k"))
    return out


@settings(
    max_examples=_examples(12),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(store=store_st, q=query_st())
def test_construct_matches_reference_evaluator(spark, store, q):
    quads_df = spark.createDataFrame(
        [(s, p, o, None, None) for s, p, o in store],
        "subject string, predicate string, object string, "
        "lang string, graph string",
    )
    SQ.clear_plan_cache()
    got = {
        (r.subject, r.predicate, r.object)
        for r in SQ.construct_query(quads_df, _to_text(q)).collect()
    }
    assert got == _ref_eval(q, store)


# ---- model 2: lang-tagged literals + GRAPH scoping -----------------
LANGS = [None, "nl", "en"]
GRAPHS = ["urn:g0", "urn:g1"]
LITS = ["fiets", "kar"]

lquad_st = st.tuples(
    st.sampled_from(SUBJECTS),
    st.sampled_from(PREDS),
    st.sampled_from(SUBJECTS[:2] + LITS),
    st.sampled_from(LANGS),
    st.sampled_from(GRAPHS),
)
lstore_st = st.lists(lquad_st, min_size=2, max_size=14, unique=True).map(
    # lang only makes sense on literals; IRIs carry no tag
    lambda rows: [
        (s, p, o, (lang if o in LITS else None), g)
        for s, p, o, lang, g in rows
    ]
)

ltriple_st = st.tuples(
    st.sampled_from(VARS + SUBJECTS[:1]),
    st.sampled_from(PREDS),
    st.sampled_from(VARS),
    st.sampled_from([None] + GRAPHS),  # graph scope of this pattern
)

lquery_st = st.fixed_dictionaries(
    {
        "bgp": st.lists(ltriple_st, min_size=1, max_size=3),
        "lang_filter": st.sampled_from([None, "nl", "en"]),
    }
)


def _lrender_triple(tr) -> str:
    s, p, o, g = tr
    inner = f"{_render(s)} <{p}> {_render(o)} ."
    return f"GRAPH <{g}> {{ {inner} }}" if g else inner


def _lto_text(q) -> str:
    lines = [_lrender_triple(t) for t in q["bgp"]]
    fvars = sorted({t[2] for t in q["bgp"] if t[2].startswith("?")})
    if q["lang_filter"] and fvars:
        lines.append(
            f'FILTER langMatches(lang({fvars[0]}), "{q["lang_filter"]}")'
        )
    body = "\n  ".join(lines)
    return (
        "PREFIX out: <urn:out:>\n"
        "CONSTRUCT { ?a out:r1 ?b . ?b out:r2 ?c }\n"
        "WHERE {\n  %s\n}" % body
    )


def _lmatch(tr, quads, binding):
    """Bindings carry TERMS: (value, lang) pairs for object positions,
    plain strings for subjects. Shared vars must agree on the full
    term — value AND lang (the engine's null-safe __lang join)."""
    s, p, o, g = tr
    for qs, qp, qo, qlang, qg in quads:
        if qp != p or (g is not None and qg != g):
            continue
        b = dict(binding)
        ok = True
        if s.startswith("?"):
            prev = b.get(s)
            if prev is not None and prev != (qs, None):
                ok = False
            b[s] = (qs, None)
        elif s != qs:
            ok = False
        if ok:
            term = (qo, qlang)
            if o.startswith("?"):
                prev = b.get(o)
                if prev is not None and prev != term:
                    ok = False
                b[o] = term
            elif o != qo:
                ok = False
        if ok:
            yield b


@settings(
    max_examples=_examples(12),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(store=lstore_st, q=lquery_st)
def test_lang_and_graph_semantics_match_reference(spark, store, q):
    quads_df = spark.createDataFrame(
        store,
        "subject string, predicate string, object string, "
        "lang string, graph string",
    )
    SQ.clear_plan_cache()
    got = {
        (r.subject, r.predicate, r.object)
        for r in SQ.construct_query(quads_df, _lto_text(q)).collect()
    }
    sols = [{}]
    for tr in q["bgp"]:
        sols = [b2 for b in sols for b2 in _lmatch(tr, store, b)]
    fvars = sorted({t[2] for t in q["bgp"] if t[2].startswith("?")})
    if q["lang_filter"] and fvars:
        want_lang = q["lang_filter"]
        sols = [
            b
            for b in sols
            if fvars[0] in b and (b[fvars[0]][1] or "") == want_lang
        ]
    exp = set()
    for b in sols:
        a, bb, c = b.get("?a"), b.get("?b"), b.get("?c")
        if a is not None and bb is not None:
            exp.add((a[0], "urn:out:r1", bb[0]))
        if bb is not None and c is not None:
            exp.add((bb[0], "urn:out:r2", c[0]))
    assert got == exp


# ---- model 3: closure property paths (+ / * / ?), inverse, GRAPH ----
# The repo's pinned closure contract (A28b): ``p*`` / ``p?`` identity
# pairs cover every ENDPOINT of the path's edge set (not every graph
# term) — the reference evaluator below implements exactly that.
PNODES = [f"urn:n{i}" for i in range(5)]

pedge_st = st.tuples(st.sampled_from(PNODES), st.sampled_from(PNODES))
pstore_st = st.fixed_dictionaries(
    {
        "edges": st.lists(pedge_st, min_size=1, max_size=8, unique=True),
        "attrs": st.lists(
            st.tuples(st.sampled_from(PNODES), st.sampled_from(["v1", "v2"])),
            min_size=0,
            max_size=6,
            unique=True,
        ),
    }
)
pquery_st = st.fixed_dictionaries(
    {
        "mod": st.sampled_from(["+", "*", "?"]),
        "inverse": st.booleans(),
        "src": st.one_of(st.none(), st.sampled_from(PNODES[:2])),
        "with_attr": st.booleans(),
        "graph_scope": st.booleans(),
    }
)


def _closure(edges, mod):
    plus = set(edges)
    changed = True
    while changed:
        changed = False
        for a, b in list(plus):
            for c, d in list(plus):
                if b == c and (a, d) not in plus:
                    plus.add((a, d))
                    changed = True
    endpoints = {x for e in edges for x in e}
    ident = {(x, x) for x in endpoints}
    if mod == "+":
        return plus
    if mod == "*":
        return plus | ident
    return set(edges) | ident  # ?


@settings(
    max_examples=_examples(10),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(store=pstore_st, q=pquery_st)
def test_closure_paths_match_reference_evaluator(spark, store, q):
    g = "urn:g0" if q["graph_scope"] else None
    rows = [(s, "urn:e", o, None, g or "urn:gx") for s, o in store["edges"]]
    rows += [(s, "urn:attr", v, None, g or "urn:gx") for s, v in store["attrs"]]
    quads_df = spark.createDataFrame(
        rows,
        "subject string, predicate string, object string, "
        "lang string, graph string",
    )
    path = f"^<urn:e>{q['mod']}" if q["inverse"] else f"<urn:e>{q['mod']}"
    src = _render(q["src"]) if q["src"] else "?a"
    lines = [f"{src} {path} ?b ."]
    if q["with_attr"]:
        lines.append("?b <urn:attr> ?c .")
    body = "\n  ".join(lines)
    if q["graph_scope"]:
        body = "GRAPH <urn:g0> { %s }" % body
    text = (
        "PREFIX out: <urn:out:>\n"
        "CONSTRUCT { ?a out:r ?b . ?b out:attr ?c }\n"
        "WHERE {\n  %s\n}" % body
    )
    SQ.clear_plan_cache()
    got = {
        (r.subject, r.predicate, r.object)
        for r in SQ.construct_query(quads_df, text).collect()
    }
    pairs = _closure(store["edges"], q["mod"])
    if q["inverse"]:
        pairs = {(b, a) for a, b in pairs}
    attrs = dict()
    for s, v in store["attrs"]:
        attrs.setdefault(s, set()).add(v)
    exp = set()
    for a, b in pairs:
        if q["src"] and a != q["src"]:
            continue
        exts = (
            [(b, c) for c in attrs.get(b, ())] if q["with_attr"] else [(b, None)]
        )
        if q["with_attr"] and not attrs.get(b):
            continue
        for _, c in exts:
            if not q["src"]:
                exp.add((a, "urn:out:r", b))
            if c is not None:
                exp.add((b, "urn:out:attr", c))
    assert got == exp


# ---- model 4: subselects with aggregation --------------------------
squery_st = st.fixed_dictionaries(
    {
        "min_n": st.sampled_from([1, 2]),
        "outer_attr": st.booleans(),
    }
)


@settings(
    max_examples=_examples(8),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(store=store_st, q=squery_st)
def test_subselect_aggregate_matches_reference_evaluator(spark, store, q):
    quads_df = spark.createDataFrame(
        [(s, p, o, None, None) for s, p, o in store],
        "subject string, predicate string, object string, "
        "lang string, graph string",
    )
    lines = ["{ SELECT ?a (COUNT(*) AS ?n) WHERE { ?a <urn:p0> ?y } GROUP BY ?a }"]
    if q["outer_attr"]:
        lines.append("?a <urn:p1> ?b .")
    lines.append(f"FILTER (?n >= {q['min_n']})")
    text = (
        "PREFIX out: <urn:out:>\n"
        "CONSTRUCT { ?a out:n ?n . ?a out:b ?b }\n"
        "WHERE {\n  %s\n}" % "\n  ".join(lines)
    )
    SQ.clear_plan_cache()
    got = {
        (r.subject, r.predicate, r.object)
        for r in SQ.construct_query(quads_df, text).collect()
    }
    from collections import Counter

    counts = Counter(s for s, p, o in store if p == "urn:p0")
    exp = set()
    for a, n in counts.items():
        if n < q["min_n"]:
            continue
        exts = (
            [o for s, p, o in store if p == "urn:p1" and s == a]
            if q["outer_attr"]
            else [None]
        )
        for b in exts:
            if q["outer_attr"] and b is None:
                continue
            exp.add((a, "urn:out:n", str(n)))
            if b is not None:
                exp.add((a, "urn:out:b", b))
    assert got == exp
