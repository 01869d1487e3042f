"""Triple-model semantics: melt/pivot round-trip, the reference's
first-value + 'nl'-override rule (stream.ts:97-103), the closure and
PageRank operators, and the CONSTRUCT pattern algebra the registry's
KG entries use, written as SPARQL text for ``operators/sparql``."""

from __future__ import annotations

import pytest

from prefect_flow_arc_kg_postgres_etl_spark.operators import sparql as SQ
from prefect_flow_arc_kg_postgres_etl_spark.operators.triples import (
    melt,
    pivot_records,
)
from tests.conftest import deadline


def test_melt_pivot_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "x", 10), (2, "y", None)], "id long, name string, n int"
    )
    t = melt(df, "id", ["name", "n"])
    back = pivot_records(t, ["name", "n"])
    rows = {(r.subject, r.name, r.n) for r in back.collect()}
    assert rows == {("1", "x", "10"), ("2", "y", None)}


def test_pivot_language_override(spark):
    """An 'nl' literal wins over earlier values; otherwise the smallest
    value is kept deterministically."""
    t = spark.createDataFrame(
        [
            ("s1", "label", "english", "en"),
            ("s1", "label", "nederlands", "nl"),
            ("s2", "label", "zzz", None),
            ("s2", "label", "aaa", None),
        ],
        "subject string, predicate string, object string, lang string",
    )
    out = {(r.subject, r.label) for r in pivot_records(t, ["label"]).collect()}
    assert out == {("s1", "nederlands"), ("s2", "aaa")}


def _store(spark, rows):
    """A quad store; 4-tuples sit in the default graph."""
    return spark.createDataFrame(
        [tuple(r) + (None,) * (5 - len(r)) for r in rows],
        "subject string, predicate string, object string, lang string, "
        "graph string",
    )


def _select(quads, text: str) -> set[tuple]:
    return {tuple(r) for r in SQ.select_query(quads, text).collect()}


def test_construct_joins_on_shared_vars(spark):
    quads = _store(
        spark,
        [
            ("c1", "nation", "n1"),
            ("c2", "nation", "n2"),
            ("n1", "name", "BE"),
            ("n2", "name", "NL"),
        ],
    )
    got = _select(
        quads, "SELECT ?c ?nm WHERE { ?c <nation> ?n . ?n <name> ?nm }"
    )
    assert got == {("c1", "BE"), ("c2", "NL")}


def test_construct_constant_filter(spark):
    quads = _store(
        spark,
        [
            ("a", "type", "Person"),
            ("b", "type", "Org"),
            ("a", "name", "Ann"),
            ("b", "name", "Acme"),
        ],
    )
    got = _select(
        quads, 'SELECT ?s ?n WHERE { ?s <type> "Person" ; <name> ?n }'
    )
    assert got == {("a", "Ann")}


def _graph(spark):
    return _store(
        spark,
        [
            ("c1", "name", "alice"),
            ("c1", "seg", "BUILDING"),
            ("c2", "name", "bob"),
            ("c2", "seg", "AUTO"),
            ("c3", "name", "carol"),
            ("c3", "seg", "BUILDING"),
            ("o1", "cust", "c1"),
            ("o1", "prio", "URGENT"),
            ("o2", "cust", "c1"),
            ("o2", "prio", "LOW"),
            ("o3", "cust", "c3"),
            ("o3", "prio", "LOW"),
            ("c1", "nk", "n1"),
            ("c3", "nk", "n2"),
            ("n1", "nname", "BE"),
            ("n2", "nname", "NL"),
        ],
    )


def test_construct_optional_keeps_unmatched(spark):
    """SPARQL OPTIONAL: base rows survive with NULL bindings when the
    optional group doesn't match (c3 has no URGENT order)."""
    got = _select(
        _graph(spark),
        """SELECT ?c ?o WHERE {
          ?c <seg> "BUILDING"
          OPTIONAL { ?o <cust> ?c ; <prio> "URGENT" }
        }""",
    )
    assert got == {("c1", "o1"), ("c3", None)}


def test_construct_values_inlist(spark):
    got = _select(
        _graph(spark),
        'SELECT ?c ?s WHERE { ?c <seg> ?s VALUES ?s { "AUTO" } }',
    )
    assert got == {("c2", "AUTO")}


def test_construct_path_sequence_and_inverse(spark):
    """^cust inverse + nk/nname sequence: per URGENT order, the
    customer's nation name through the two-hop path. The sequence's
    intermediate node is not a solution column."""
    out = SQ.select_query(
        _graph(spark),
        """SELECT * WHERE {
          ?c ^<cust> ?o . ?o <prio> "URGENT" . ?c <nk>/<nname> ?nn
        }""",
    )
    assert sorted(out.columns) == ["c", "nn", "o"]
    assert {(r.o, r.c, r.nn) for r in out.collect()} == {("o1", "c1", "BE")}


def test_construct_path_alternation(spark):
    got = _select(
        _graph(spark),
        """SELECT ?c ?label WHERE {
          ?c <seg> "BUILDING" ; <name>|<seg> ?label
        }""",
    )
    assert got == {
        ("c1", "alice"), ("c1", "BUILDING"),
        ("c3", "carol"), ("c3", "BUILDING"),
    }


def test_construct_union_groups(spark):
    """{A} UNION {B}: branch results union by name (unbound vars NULL)
    and join the base on shared vars."""
    got = _select(
        _graph(spark),
        """SELECT ?c ?o ?n WHERE {
          ?c <seg> "BUILDING" .
          { ?o <cust> ?c ; <prio> "URGENT" } UNION { ?c <nk> ?n }
        }""",
    )
    assert got == {("c1", "o1", None), ("c1", None, "n1"), ("c3", None, "n2")}


def test_construct_not_exists(spark):
    """FILTER NOT EXISTS removes matches (c1 has an URGENT order)."""
    got = _select(
        _graph(spark),
        """SELECT ?c WHERE {
          ?c <seg> "BUILDING"
          FILTER NOT EXISTS { ?o <cust> ?c ; <prio> "URGENT" }
        }""",
    )
    assert got == {("c3",)}


def test_construct_bind_expression(spark):
    got = _select(
        _graph(spark),
        """SELECT ?c ?nm ?tag WHERE {
          ?c <name> ?nm BIND(CONCAT("person:", ?nm) AS ?tag)
        }""",
    )
    assert ("c1", "alice", "person:alice") in got


def test_construct_lang_constraint(spark):
    quads = _store(
        spark,
        [
            ("s1", "label", "english", "en"),
            ("s1", "label", "nederlands", "nl"),
            ("s2", "label", "only-en", "en"),
        ],
    )
    got = _select(
        quads,
        """SELECT ?s ?l WHERE {
          ?s <label> ?l FILTER(LANGMATCHES(LANG(?l), "nl"))
        }""",
    )
    assert got == {("s1", "nederlands")}


def _quads(spark):
    """A quad store with the same predicate in two named graphs: the
    'real' org names in graph:orgs and a draft copy in graph:staging —
    graph scoping must discriminate between them."""
    return _store(
        spark,
        [
            ("c1", "nk", "n1", None, "graph:entities"),
            ("c2", "nk", "n2", None, "graph:entities"),
            ("n1", "nname", "BE", None, "graph:orgs"),
            ("n2", "nname", "NL", None, "graph:orgs"),
            ("n1", "nname", "BE (draft)", None, "graph:staging"),
            ("n2", "nname", "NL (draft)", None, "graph:staging"),
        ],
    )


def test_construct_graph_constant_scopes_pattern(spark):
    """GRAPH <g> { pattern }: a constant graph term restricts the
    pattern to that graph's quads (person.sparql:51 shape)."""
    got = _select(
        _quads(spark),
        """SELECT ?c ?nm WHERE {
          ?c <nk> ?n . GRAPH <graph:orgs> { ?n <nname> ?nm }
        }""",
    )
    assert got == {("c1", "BE"), ("c2", "NL")}


def test_construct_graph_unscoped_matches_all_graphs(spark):
    """Without a graph term the pattern spans every graph (SPARQL's
    default-graph-as-union store mode) — both copies match."""
    out = SQ.select_query(_quads(spark), "SELECT ?n ?nm WHERE { ?n <nname> ?nm }")
    assert out.count() == 4


def test_construct_graph_variable_binds_and_values_prunes(spark):
    """GRAPH ?g binds the graph id as a variable; VALUES on ?g prunes
    to the allowed graphs (the reference's parameterized org graph)."""
    got = _select(
        _quads(spark),
        """SELECT ?nm ?g WHERE {
          GRAPH ?g { ?n <nname> ?nm } VALUES ?g { <graph:staging> }
        }""",
    )
    assert got == {
        ("BE (draft)", "graph:staging"),
        ("NL (draft)", "graph:staging"),
    }


def test_construct_path_in_graph_scopes_every_hop(spark):
    """A property path inside GRAPH g keeps all expanded hops in g
    (SPARQL scoping); a hop whose triple lives elsewhere must not
    match."""
    got = _select(
        _quads(spark),
        "SELECT ?c ?nm WHERE { GRAPH <graph:entities> { ?c <nk>/<nname> ?nm } }",
    )
    assert got == set()  # nname lives in graph:orgs, not entities


def test_construct_filter_unbound_disjunction(spark):
    """FILTER (!BOUND(?x) || cond(?x)) over an OPTIONAL binding
    (av-audio.sparql:220 conditional-since shape): rows with no binding
    pass, bound rows pass only when the condition holds."""
    got = _select(
        _graph(spark),
        """SELECT ?c ?o WHERE {
          ?c <name> ?nm
          OPTIONAL { ?o <cust> ?c ; <prio> "URGENT" }
          FILTER(!BOUND(?o) || ?o = "o1")
        }""",
    )
    assert got == {("c1", "o1"), ("c2", None), ("c3", None)}


def test_melt_graph_column(spark):
    df = spark.createDataFrame([(1, "x")], "id long, name string")
    t = melt(df, "id", ["name"], graph="graph:test")
    assert t.columns == ["subject", "predicate", "object", "lang", "graph"]
    assert t.first().graph == "graph:test"


def test_transitive_closure_chain_diamond_cycle(spark):
    """p+ semantics on known graphs: a worst-case chain (forces the
    doubling loop past one iteration), a diamond (duplicate paths
    collapse), and a 2-cycle (terminates; both nodes become their own
    ancestors through the cycle)."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.triples import (
        transitive_closure,
    )

    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(6)], "child string, parent string"
    )
    got = {
        (r.node, r.ancestor) for r in transitive_closure(chain).collect()
    }
    want = {(f"n{i}", f"n{j}") for i in range(6) for j in range(i + 1, 7)}
    assert got == want

    diamond = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")],
        "child string, parent string",
    )
    got = {
        (r.node, r.ancestor) for r in transitive_closure(diamond).collect()
    }
    assert got == {
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "d"), ("c", "d")
    }

    cycle = spark.createDataFrame(
        [("x", "y"), ("y", "x")], "child string, parent string"
    )
    got = {
        (r.node, r.ancestor) for r in transitive_closure(cycle).collect()
    }
    assert got == {("x", "y"), ("y", "x"), ("x", "x"), ("y", "y")}


def test_transitive_closure_known_depth_equals_fixpoint(spark):
    """The metadata-depth fast path (no convergence counts) must return
    the same closure as fixpoint detection, including when known_depth
    is an over-estimate."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.triples import (
        transitive_closure,
    )

    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(6)], "child string, parent string"
    )
    fix = {(r.node, r.ancestor) for r in transitive_closure(chain).collect()}
    for depth in (6, 9):
        fast = {
            (r.node, r.ancestor)
            for r in transitive_closure(chain, known_depth=depth).collect()
        }
        assert fast == fix


def test_pagerank_resumable_restart_is_bit_identical(spark, tmp_path):
    """A48: stop after iteration 1 (simulated by running iters=1 to a
    store), then RESUME with iters=2 against the same store — the
    resumed fixpoint must equal a straight-through iters=2 run
    bit-for-bit (exact integer arithmetic survives the storage
    round-trip; float ranks would drift)."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_kg_postgres_etl_spark.operators.triples import (
        pagerank_int,
        pagerank_int_resumable,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (2, 4)],
        "src long, dst long",
    )
    state = str(tmp_path / "ranks")
    first = pagerank_int_resumable(spark, edges, state, iters=1)
    assert first.count() == 4
    resumed = {
        (r.node, r.rank)
        for r in pagerank_int_resumable(spark, edges, state, iters=2).collect()
    }
    straight = {
        (r.node, r.rank) for r in pagerank_int(edges, iters=2).collect()
    }
    assert resumed == straight


def test_minus_disjoint_domains_is_identity(spark):
    """SPARQL MINUS quirk (1.1 §8.3): a MINUS group sharing NO variable
    with the base removes NOTHING; sharing one, it removes the
    compatible rows. FILTER NOT EXISTS over a group sharing no variable
    is refused when the plan is built."""
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k int, name string, v int"
    )
    quads = melt(df, "k")
    disjoint = "SELECT ?s WHERE { ?s <name> ?n MINUS { ?x <v> ?y } }"
    shared = 'SELECT ?n WHERE { ?s <name> ?n MINUS { ?s <v> "10" } }'
    with deadline(10):  # the parser once looped forever on MINUS
        SQ.parse(disjoint)
        SQ.parse(shared)
    # matches rows, shares no var: identity
    assert _select(quads, disjoint) == {("1",), ("2",)}
    with pytest.raises(AssertionError):
        SQ.select_query(
            quads,
            "SELECT ?s WHERE { ?s <name> ?n FILTER NOT EXISTS { ?s2 <v> ?y } }",
        )
    assert _select(quads, shared) == {("b",)}  # shared var: removes
