"""SPARQL text compiler: parse all nine reference production queries,
execute person.sparql verbatim, and pin the semantics the flat
construct() operator cannot express (identity-branch unions, nested
GRAPH, alternation-over-sequence paths, EXISTS-in-expression)."""

from __future__ import annotations

import glob

import pytest

from prefect_flow_arc_kg_postgres_etl_spark.operators import sparql as SQ
from tests.conftest import QUERIES_DIR, needs_reference


@needs_reference
def test_all_reference_queries_parse():
    files = sorted(glob.glob(f"{QUERIES_DIR}/*.sparql"))
    assert len(files) == 9
    for fp in files:
        q = SQ.parse(open(fp).read())
        assert q.template, fp
        assert q.where.elements, fp


@needs_reference
def test_person_query_structure():
    q = SQ.parse(open(f"{QUERIES_DIR}/person.sparql").read())
    kinds = [e[0] for e in q.where.elements]
    # nested GRAPH blocks flatten; the 5-branch union (incl. the empty
    # {} branch) survives as one union element
    assert "union" in kinds
    union = next(e for e in q.where.elements if e[0] == "union")
    assert len(union[1]) == 5
    assert union[1][0].elements == []  # the {} identity branch
    assert "values" in kinds and "optional" in kinds and "bind" in kinds
    # the license pattern is an alternation over a sequence
    paths = [el[1].p for el in q.where.elements if el[0] == "triple"]
    assert any(isinstance(p, tuple) and p[0] == "alt" for p in paths)


def _quads(spark, rows):
    return spark.createDataFrame(
        rows, "subject string, predicate string, object string, lang string, graph string"
    )


def test_identity_union_and_optional(spark):
    quads = _quads(
        spark,
        [
            ("p1", "a", "Person", None, "g"),
            ("p2", "a", "Person", None, "g"),
            ("p1", "death", "1999", None, "g"),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX : <urn:>
        CONSTRUCT { ?p :id ?p . ?p :death ?d }
        WHERE { GRAPH <g> { ?p <a> "Person" . {} UNION { ?p <death> ?d } } }
        """,
    )
    rows = {(r.subject, r.predicate, r.object) for r in out.collect()}
    assert rows == {
        ("p1", "urn:id", "p1"),
        ("p2", "urn:id", "p2"),
        ("p1", "urn:death", "1999"),
    }


def test_path_alternation_over_sequence(spark):
    quads = _quads(
        spark,
        [
            ("e1", "lic", "L1", None, "g"),
            ("e2", "isp", "r2", None, "g"),
            ("r2", "lic", "L2", None, "g"),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX : <urn:>
        CONSTRUCT { ?e :license ?l }
        WHERE { ?e (<lic>|(<isp>/<lic>)) ?l }
        """,
    )
    rows = {(r.subject, r.object) for r in out.collect()}
    # r2 also matches the direct branch — SPARQL would too
    assert ("e1", "L1") in rows and ("e2", "L2") in rows and ("r2", "L2") in rows


def test_langmatches_and_bound(spark):
    quads = _quads(
        spark,
        [
            ("p1", "name", "Jan", "nl", None),
            ("p2", "name", "John", "en", None),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX : <urn:>
        CONSTRUCT { ?p :name ?n }
        WHERE {
          ?p <name> ?n
          FILTER langMatches(lang(?n), "nl")
          FILTER (!BOUND(?since) || ?n >= ?since)
        }
        """,
    )
    rows = {(r.subject, r.object) for r in out.collect()}
    assert rows == {("p1", "Jan")}


def test_exists_in_expression(spark):
    quads = _quads(
        spark,
        [
            ("e1", "a", "T", None, None),
            ("e2", "a", "T", None, None),
            ("e1", "flag", "y", None, None),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX : <urn:>
        CONSTRUCT { ?e :kind ?k }
        WHERE {
          ?e <a> "T"
          BIND(IF(EXISTS { ?e <flag> ?f }, "flagged", "plain") AS ?k)
        }
        """,
    )
    rows = {(r.subject, r.object) for r in out.collect()}
    assert rows == {("e1", "flagged"), ("e2", "plain")}


def test_division_by_zero_coalesce_idiom(spark):
    quads = _quads(spark, [("e1", "t", "Episode", None, None)])
    out = SQ.construct_query(
        quads,
        """
        PREFIX : <urn:>
        CONSTRUCT { ?e :k ?k }
        WHERE {
          ?e <t> ?t
          BIND(COALESCE(IF(?t = "Episode", "episode", 1/0), "other") AS ?k)
        }
        """,
    )
    rows = {(r.subject, r.object) for r in out.collect()}
    assert rows == {("e1", "episode")}


def test_filter_not_exists(spark):
    quads = _quads(
        spark,
        [
            ("e1", "a", "T", None, None),
            ("e2", "a", "T", None, None),
            ("e1", "deleted", "true", None, None),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX : <urn:>
        CONSTRUCT { ?e :live "yes" }
        WHERE { ?e <a> "T" FILTER NOT EXISTS { ?e <deleted> ?d } }
        """,
    )
    rows = {(r.subject, r.object) for r in out.collect()}
    assert rows == {("e2", "yes")}


def test_variable_predicate_with_if_classifier(spark):
    # newspaper.sparql:325-341 — ?ie ?role_pred ?role scans every
    # predicate; only Role-typed objects survive the type join, and an
    # IF chain classifies the predicate IRI.
    quads = _quads(
        spark,
        [
            ("ie1", "urn:creator", "r1", None, None),
            ("ie1", "urn:other", "x1", None, None),
            ("r1", "urn:type", "Role", None, None),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX : <urn:out:>
        CONSTRUCT { ?role :type ?role_type }
        WHERE {
          ?ie ?role_pred ?role.
          ?role <urn:type> "Role"
          BIND(IF(?role_pred = <urn:creator>, "schema_creator", "unknown")
               AS ?role_type)
        }
        """,
    )
    rows = {(r.subject, r.object) for r in out.collect()}
    assert rows == {("r1", "schema_creator")}


def test_if_unbound_else_arm_drops_only_that_triple(spark):
    # newspaper.sparql:276-283 — IF(.., .., ?unbound): the else arm is
    # an unbound variable, so rows taking it keep their other template
    # triples but emit no triple for the IF-bound one.
    quads = _quads(
        spark,
        [
            ("i1", "urn:kind", "Local", None, None),
            ("i2", "urn:kind", "Meemoo", None, None),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX : <urn:out:>
        CONSTRUCT { ?i :value "v"; :type ?t }
        WHERE {
          ?i <urn:kind> ?k
          BIND(IF(?k != "Local", ?k, ?unbound) AS ?t)
        }
        """,
    )
    rows = {(r.subject, r.predicate, r.object) for r in out.collect()}
    assert rows == {
        ("i1", "urn:out:value", "v"),
        ("i2", "urn:out:value", "v"),
        ("i2", "urn:out:type", "Meemoo"),
    }


def test_exists_bind_emits_boolean_object(spark):
    # newspaper.sparql:443-445 — BIND(EXISTS{..path..} AS ?b) emits a
    # boolean-valued object ("true"/"false") for every row.
    quads = _quads(
        spark,
        [
            ("c1", "urn:a", "P", None, None),
            ("c2", "urn:a", "P", None, None),
            ("c1", "urn:cap", "n1", None, None),
            ("n1", "urn:type", "Open", None, None),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX : <urn:out:>
        CONSTRUCT { ?c :captioned ?b }
        WHERE {
          ?c <urn:a> "P"
          BIND(EXISTS { ?c <urn:cap>/<urn:type> "Open" } AS ?b)
        }
        """,
    )
    rows = {(r.subject, r.object) for r in out.collect()}
    assert rows == {("c1", "true"), ("c2", "false")}


def test_if_in_unbound_suppresses_derived_bind_chain(spark):
    # av-audio.sparql:224-229 — IF(?lic IN (..), ?unbound, REPLACE(..)):
    # suppressed rows keep the binding row but every node IRI derived
    # from the unbound var (md5(str(?lic_name))) is unbound too, so the
    # whole license triple group vanishes for those rows only.
    quads = _quads(
        spark,
        [
            ("e1", "urn:lic", "urn:l/PUBLIC", None, None),
            ("e2", "urn:lic", "urn:l/RESTRICTED", None, None),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX : <urn:out:>
        CONSTRUCT { ?n :license ?name. ?e :id ?e }
        WHERE {
          ?e <urn:lic> ?lic
          BIND(IF(?lic IN (<urn:l/PUBLIC>), ?unbound,
                  REPLACE(STR(?lic), "^.*/([^/]*)$", "$1")) AS ?name)
          BIND(IRI(CONCAT(str(?e), "/", md5(str(?name)))) AS ?n)
        }
        """,
    )
    rows = {(r.subject, r.predicate, r.object) for r in out.collect()}
    import hashlib
    n2 = "e2/" + hashlib.md5(b"RESTRICTED").hexdigest()
    assert rows == {
        ("e1", "urn:out:id", "e1"),
        ("e2", "urn:out:id", "e2"),
        (n2, "urn:out:license", "RESTRICTED"),
    }


def test_bgp_join_ordering_prefers_entity_links():
    # deletes.sparql's trap: after the fragment block, `?ie a ?ie_type`
    # (VALUES-bound type) is listed BEFORE `?ie prov:wasDerivedFrom
    # ?fragment`; joining in listed order keys only on (ie_type,
    # ORGraph) — a near-cartesian (462 s at sf0.1). The greedy order
    # must put the entity-linked triple first.
    ev = SQ._Eval.__new__(SQ._Eval)
    ev.small_vars = {"ie_type", "ORGraph"}
    t_type = SQ.Triple("?ie", SQ.RDF_TYPE, "?ie_type", "?ORGraph")
    t_link = SQ.Triple("?ie", "urn:derived", "?fragment", "?ORGraph")

    class FakeAcc:
        columns = ["fragment", "mh", "modified", "ie_type", "ORGraph"]

    ordered = ev._order_triples([t_type, t_link], FakeAcc())
    assert ordered == [t_link, t_type]
    # and with no small-var overlap the listed order survives
    ev.small_vars = set()
    ordered2 = ev._order_triples([t_type, t_link], FakeAcc())
    assert ordered2 == [t_type, t_link]


def test_pivot_view_records(spark):
    # A68 — the reference's stream-pivot (stream.ts:78-105): tableName
    # selects the table, urn: predicates become columns; other tables'
    # subjects and foreign predicates drop.
    from prefect_flow_arc_kg_postgres_etl_spark.plans import (
        reference_pipeline as RP,
    )

    ns = "urn:kg-to-postgres:"
    triples = spark.createDataFrame(
        [
            ("p1", ns + "tableName", "graph.thing"),
            ("p1", ns + "id", "p1"),
            ("p1", ns + "schema_name", "Alice"),
            ("p2", ns + "tableName", "graph.thing"),
            ("p2", ns + "id", "p2"),
            ("m1", ns + "tableName", "graph.highlight"),
            ("m1", ns + "id", "m1"),
            ("p1", "urn:other:ignored", "zzz"),
        ],
        "subject string, predicate string, object string",
    )
    out = RP.table_from_wide(
        RP.pivot_wide(triples), "graph.thing", ["id", "schema_name"]
    )
    rows = {(r.subject, r.id, r.schema_name) for r in out.collect()}
    assert rows == {("p1", "p1", "Alice"), ("p2", "p2", None)}


def test_select_form_aggregates_and_modifiers(spark):
    # A69 — SELECT through the text compiler: GROUP BY + COUNT(*),
    # COUNT(DISTINCT), SUM numeric coercion, DISTINCT / ORDER BY /
    # LIMIT / OFFSET.
    quads = _quads(
        spark,
        [
            ("e1", "urn:t", "A", None, None),
            ("e2", "urn:t", "A", None, None),
            ("e3", "urn:t", "B", None, None),
            ("e1", "urn:v", "10", None, None),
            ("e2", "urn:v", "5", None, None),
            ("e3", "urn:v", "2", None, None),
            ("e1", "urn:n", "x", None, None),
            ("e2", "urn:n", "x", None, None),
            ("e3", "urn:n", "y", None, None),
        ],
    )
    agg = SQ.select_query(
        quads,
        """
        SELECT ?t (COUNT(*) AS ?n) (COUNT(DISTINCT ?name) AS ?dn)
               (SUM(?val) AS ?total)
        WHERE { ?e <urn:t> ?t ; <urn:v> ?val ; <urn:n> ?name }
        GROUP BY ?t ORDER BY ?t
        """,
    )
    assert [tuple(r) for r in agg.collect()] == [
        ("A", 2, 1, 15.0), ("B", 1, 1, 2.0)
    ]
    page = SQ.select_query(
        quads,
        "SELECT DISTINCT ?name WHERE { ?e <urn:n> ?name } "
        "ORDER BY DESC(?name) LIMIT 1 OFFSET 1",
    )
    assert [r.name for r in page.collect()] == ["x"]
    assert SQ.select_query(quads, 'ASK { ?e <urn:t> "B" }').collect()[0].ask == "true"
    assert SQ.select_query(quads, 'ASK { ?e <urn:t> "Z" }').collect()[0].ask == "false"


# ---------------------------------------------------------------- A70 forms
def test_describe_iri_only_no_where(spark):
    quads = _quads(
        spark,
        [
            ("s1", "p", "o1", None, "g"),
            ("s1", "q", "hallo", "nl", "g"),
            ("s2", "p", "o2", None, "g"),
        ],
    )
    out = SQ.describe_query(quads, "DESCRIBE <s1>")
    rows = {tuple(r) for r in out.collect()}
    assert rows == {
        ("s1", "p", "o1", None, "g"),
        ("s1", "q", "hallo", "nl", "g"),
    }


def test_describe_var_and_iri_mixed(spark):
    quads = _quads(
        spark,
        [
            ("s1", "a", "T", None, "g"),
            ("s1", "p", "x", None, "g"),
            ("s2", "a", "U", None, "g"),
            ("s2", "p", "y", None, "g"),
            ("s3", "p", "z", None, "g"),
        ],
    )
    out = SQ.describe_query(
        quads, 'DESCRIBE ?s <s3> WHERE { ?s <a> "T" }'
    )
    assert {r.subject for r in out.collect()} == {"s1", "s3"}
    assert out.count() == 3


def test_update_insert_data_and_delete_data(spark):
    quads = _quads(spark, [("s1", "p", "old", None, "g")])
    delta = SQ.update_delta(
        quads, 'INSERT DATA { GRAPH <g> { <s2> <p> "new" } }'
    )
    assert [tuple(r) for r in delta.collect()] == [
        ("insert", "s2", "p", "new", None, "g")
    ]
    # inserting an existing quad is a no-op (set semantics)
    assert SQ.update_delta(
        quads, 'INSERT DATA { GRAPH <g> { <s1> <p> "old" } }'
    ).count() == 0
    deld = SQ.update_delta(
        quads, 'DELETE DATA { GRAPH <g> { <s1> <p> "old" } }'
    )
    assert [tuple(r) for r in deld.collect()] == [
        ("delete", "s1", "p", "old", None, "g")
    ]
    # deleting an absent quad is a no-op
    assert SQ.update_delta(
        quads, 'DELETE DATA { GRAPH <g> { <s1> <p> "other" } }'
    ).count() == 0


def test_update_delete_where_sugar(spark):
    quads = _quads(
        spark,
        [
            ("s1", "p", "x", None, "g"),
            ("s2", "p", "y", None, "g"),
            ("s2", "q", "z", None, "g"),
        ],
    )
    delta = SQ.update_delta(quads, "DELETE WHERE { GRAPH <g> { ?s <p> ?o } }")
    assert {(r.op, r.subject, r.object) for r in delta.collect()} == {
        ("delete", "s1", "x"),
        ("delete", "s2", "y"),
    }


def test_update_delete_insert_where_apply_and_idempotence(spark):
    quads = _quads(
        spark,
        [
            ("s1", "lic", "A", None, "g1"),
            ("s2", "lic", "B", None, "g2"),
            ("s3", "lic", "C", None, "g1"),
        ],
    )
    text = """
    DELETE { GRAPH ?g { ?s <lic> ?l } }
    INSERT { GRAPH ?g { ?s <lic> "PD" . ?s <was> ?l } }
    WHERE { GRAPH ?g { ?s <lic> ?l } FILTER(?l IN ("A", "B")) }
    """
    post = SQ.update_apply(quads, text)
    rows = {tuple(r) for r in post.collect()}
    assert rows == {
        ("s1", "lic", "PD", None, "g1"),
        ("s1", "was", "A", None, "g1"),
        ("s2", "lic", "PD", None, "g2"),
        ("s2", "was", "B", None, "g2"),
        ("s3", "lic", "C", None, "g1"),
    }
    # applying the same update to the post-state changes nothing: the
    # filter no longer matches, so the delta is empty
    assert SQ.update_delta(post, text).count() == 0


def test_update_lang_tag_term_equality(spark):
    quads = _quads(
        spark,
        [
            ("s1", "name", "Jan", "nl", "g"),
            ("s1", "name", "Jan", "en", "g"),
        ],
    )
    delta = SQ.update_delta(
        quads, 'DELETE DATA { GRAPH <g> { <s1> <name> "Jan"@nl } }'
    )
    rows = [tuple(r) for r in delta.collect()]
    # only the nl-tagged term matches: (value, lang) is term identity
    assert rows == [("delete", "s1", "name", "Jan", "nl", "g")]


# ------------------------------------------------------ path modifiers
def _chain_quads(spark):
    # a -> b -> c -> d plus a side edge x -> y
    return _quads(
        spark,
        [
            ("a", "p", "b", None, "g"),
            ("b", "p", "c", None, "g"),
            ("c", "p", "d", None, "g"),
            ("x", "p", "y", None, "g"),
        ],
    )


def test_path_plus_transitive_closure(spark):
    out = SQ.select_query(
        _chain_quads(spark), "SELECT ?s ?o WHERE { ?s <p>+ ?o }"
    )
    pairs = {(r.s, r.o) for r in out.collect()}
    assert pairs == {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"), ("x", "y"),
    }


def test_path_star_adds_identity_and_constant_end(spark):
    out = SQ.select_query(
        _chain_quads(spark), "SELECT ?o WHERE { <b> <p>* ?o }"
    )
    assert {r.o for r in out.collect()} == {"b", "c", "d"}


def test_path_opt_zero_or_one(spark):
    out = SQ.select_query(
        _chain_quads(spark), "SELECT ?o WHERE { <a> <p>? ?o }"
    )
    assert {r.o for r in out.collect()} == {"a", "b"}


def test_path_plus_composes_with_bgp_join(spark):
    quads = _quads(
        spark,
        [
            ("a", "p", "b", None, "g"),
            ("b", "p", "c", None, "g"),
            ("c", "name", "Cee", "nl", "g"),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX : <urn:>
        CONSTRUCT { ?s :reaches ?n }
        WHERE { ?s <p>+ ?o . ?o <name> ?n }
        """,
    )
    assert {(r.subject, r.object) for r in out.collect()} == {
        ("a", "Cee"), ("b", "Cee"),
    }


def test_path_inverse_of_closure(spark):
    out = SQ.select_query(
        _chain_quads(spark), "SELECT ?s WHERE { <d> ^<p>+ ?s }"
    )
    assert {r.s for r in out.collect()} == {"a", "b", "c"}


# -------------------------------------- subselect / HAVING / blank nodes
def test_having_hoists_aggregates(spark):
    quads = _quads(
        spark,
        [
            ("s1", "p", "a", None, "g"),
            ("s1", "p", "b", None, "g"),
            ("s2", "p", "c", None, "g"),
        ],
    )
    out = SQ.select_query(
        quads,
        "SELECT ?s (COUNT(*) AS ?n) WHERE { ?s <p> ?o } "
        "GROUP BY ?s HAVING(COUNT(*) > 1)",
    )
    assert [tuple(r) for r in out.collect()] == [("s1", 2)]
    # compound HAVING mixing two aggregate hoists
    out2 = SQ.select_query(
        quads,
        "SELECT ?s WHERE { ?s <p> ?o } "
        'GROUP BY ?s HAVING(COUNT(*) >= 2 && MIN(?o) = "a")',
    )
    assert [r.s for r in out2.collect()] == ["s1"]


def test_subselect_aggregate_joins_outer(spark):
    quads = _quads(
        spark,
        [
            ("u1", "bought", "a", None, "g"),
            ("u1", "bought", "b", None, "g"),
            ("u2", "bought", "a", None, "g"),
            ("u1", "name", "Ann", None, "g"),
            ("u2", "name", "Bob", None, "g"),
        ],
    )
    out = SQ.select_query(
        quads,
        """
        SELECT ?n ?cnt WHERE {
          ?u <name> ?n .
          { SELECT ?u (COUNT(*) AS ?cnt) WHERE { ?u <bought> ?x }
            GROUP BY ?u }
        }
        """,
    )
    assert sorted(tuple(r) for r in out.collect()) == [("Ann", 2), ("Bob", 1)]


def test_blank_node_property_list(spark):
    quads = _quads(
        spark,
        [
            ("s1", "knows", "p1", None, "g"),
            ("p1", "name", "Ann", None, "g"),
            ("p1", "age", "30", None, "g"),
            ("s2", "knows", "p2", None, "g"),
            ("p2", "name", "Bob", None, "g"),
        ],
    )
    out = SQ.select_query(
        quads,
        'SELECT ?s WHERE { ?s <knows> [ <name> "Ann" ; <age> ?a ] }',
    )
    assert [r.s for r in out.collect()] == ["s1"]
    # nested blank nodes: both levels become existentials
    out2 = SQ.select_query(
        quads, "SELECT ?n WHERE { [ <knows> [ <name> ?n ] ] }"
    )
    assert sorted(r.n for r in out2.collect()) == ["Ann", "Bob"]


def test_union_branch_fusion_differential(spark):
    """Single-pattern UNION branches fuse into one posting-list scan;
    the fused evaluation must be row-for-row identical to the general
    per-branch path: mixed subject vars (different join-key sets with
    the accumulator — fusing across them once silently dropped every
    branch row), variable GRAPH position, branch-local lang FILTER,
    branch-local BIND, and an unfusible multi-triple branch."""
    quads = _quads(
        spark,
        [
            ("e1", "urn:a", "Doc", None, "g1"),
            ("e2", "urn:a", "Doc", None, "g2"),
            ("e1", "urn:name", "boek", "nl", "g1"),
            ("e1", "urn:name", "book", "en", "g1"),
            ("e2", "urn:name", "krant", "nl", "g2"),
            ("e1", "urn:genre", "news", None, "g1"),
            ("e2", "urn:lang", "nl", None, "g2"),
            # second entity var reachable via part
            ("e1", "urn:part", "s1", None, "g1"),
            ("s1", "urn:title", "serie", None, "g1"),
            # multi-triple branch data
            ("e2", "urn:part", "s2", None, "g2"),
            ("s2", "urn:title", "reeks", None, "g2"),
            ("s2", "urn:kind", "K", None, "g2"),
        ],
    )
    text = """
    PREFIX : <urn:>
    CONSTRUCT {
      ?e :name ?n. ?e :genre ?g2. ?e :lang ?l.
      ?s :title ?t. ?s :kindid ?kid.
    }
    WHERE {
      GRAPH ?gr { ?e :a "Doc". }
      OPTIONAL { GRAPH ?gr { ?e :part ?s. } }
      {} UNION {
        GRAPH ?gr { ?e :name ?n. }
        FILTER langMatches(lang(?n), "nl")
      }
      UNION { GRAPH ?gr { ?e :genre ?g2. } }
      UNION { GRAPH ?gr { ?e :lang ?l. } }
      UNION { GRAPH ?gr { ?s :title ?t. } }
      UNION {
        GRAPH ?gr { ?s :title ?t2. ?s :kind ?k. }
        BIND(CONCAT(?k, "-id") AS ?kid)
      }
    }
    """
    fused_impl = SQ._Eval._fuse_union_branches
    calls = []

    def spy(self, groups, acc):
        fused, rest = fused_impl(self, groups, acc)
        calls.append((len(groups), len(fused), len(rest)))
        return fused, rest

    def no_fuse(self, groups, acc):
        return [], groups

    try:
        SQ._Eval._fuse_union_branches = spy
        SQ.clear_plan_cache()
        fused_rows = set(map(tuple, SQ.construct_query(quads, text).collect()))
        SQ._Eval._fuse_union_branches = no_fuse
        SQ.clear_plan_cache()
        plain_rows = set(map(tuple, SQ.construct_query(quads, text).collect()))
    finally:
        SQ._Eval._fuse_union_branches = fused_impl
        SQ.clear_plan_cache()
    assert fused_rows == plain_rows
    # the 6-branch union must fuse: name/genre/lang share {e, gr} (one
    # frame), title has key set {s, gr} (not fused with them or alone
    # it stays put), the {} identity and multi-triple branch stay out
    assert any(n_fused >= 1 for _, n_fused, _ in calls)
    # semantics spot checks: nl-only name, bind-derived kid
    objs = {(r[0], r[1], r[2]) for r in fused_rows}
    assert ("e1", "urn:name", "boek") in objs
    assert ("e1", "urn:name", "book") not in objs
    assert ("s2", "urn:kindid", "K-id") in objs


def test_plan_cache_identity_and_keying(spark):
    """Prepared-plan cache: same (store, text, params) returns the
    SAME plan object; changing any key component misses."""
    quads = _quads(spark, [("s", "urn:p", "o", None, "g")])
    text = "PREFIX : <urn:> CONSTRUCT { ?s :q ?o } WHERE { ?s :p ?o }"
    SQ.clear_plan_cache()
    a = SQ.construct_query(quads, text)
    assert SQ.construct_query(quads, text) is a
    assert SQ.construct_query(quads, text, params={"since": "x"}) is not a
    quads2 = _quads(
        spark,
        [("s", "urn:p", "o", None, "g"), ("s2", "urn:p", "o2", None, "g")],
    )
    b = SQ.construct_query(quads2, text)
    assert b is not a
    assert [r.object for r in a.collect()] == ["o"]
    assert sorted(r.object for r in b.collect()) == ["o", "o2"]
    SQ.clear_plan_cache()


def test_negated_property_set(spark):
    """!(p1|p2) matches any predicate NOT in the member set; bare !p
    and the `a` keyword as a member both parse."""
    quads = _quads(
        spark,
        [
            ("e1", "urn:a", "T", None, None),
            ("e1", "urn:keep", "v1", None, None),
            ("e1", "urn:drop", "v2", None, None),
            ("e1", "urn:other", "v3", None, None),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX : <urn:>
        CONSTRUCT { ?e :val ?v }
        WHERE { ?e :a "T". ?e !(:a|:drop) ?v }
        """,
    )
    rows = {(r.subject, r.object) for r in out.collect()}
    assert rows == {("e1", "v1"), ("e1", "v3")}
    out2 = SQ.construct_query(
        quads,
        """
        PREFIX : <urn:>
        CONSTRUCT { ?e :val ?v }
        WHERE { ?e !:a ?v }
        """,
    )
    assert {r.object for r in out2.collect()} == {"v1", "v2", "v3"}


def test_shared_object_var_joins_on_term_identity(spark):
    """Two patterns binding the SAME object variable join on (value,
    lang) term identity: "fiets"@nl and "fiets"@en are different terms
    and must not join; matching value+lang must."""
    quads = _quads(
        spark,
        [
            ("e1", "urn:label", "fiets", "nl", None),
            ("e1", "urn:alias", "fiets", "en", None),
            ("e2", "urn:label", "fiets", "nl", None),
            ("e2", "urn:alias", "fiets", "nl", None),
            ("e3", "urn:label", "kar", None, None),
            ("e3", "urn:alias", "kar", None, None),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX : <urn:out:>
        CONSTRUCT { ?e :both ?v }
        WHERE { ?e <urn:label> ?v . ?e <urn:alias> ?v }
        """,
    )
    rows = {(r.subject, r.object) for r in out.collect()}
    # e1: nl vs en -> no term match; e2: nl vs nl -> match;
    # e3: plain vs plain (null lang, null-safe) -> match
    assert rows == {("e2", "fiets"), ("e3", "kar")}


def test_optional_var_reused_in_union_compatible_join(spark):
    """SPARQL §18.3 compatible bindings: a variable null-filled by an
    unmatched OPTIONAL is compatible with ANY value a later UNION
    branch binds — the join must not drop those solutions (it did,
    pre-fix: plain equi-join on the nullable column)."""
    quads = _quads(
        spark,
        [
            ("e1", "urn:p0", "x", None, None),
            ("e2", "urn:p0", "x", None, None),
            # OPTIONAL matches only e1
            ("e1", "urn:p1", "c1", None, None),
            # union branch binds ?c for both subjects
            ("e1", "urn:p2", "c1", None, None),
            ("e1", "urn:p2", "c9", None, None),
            ("e2", "urn:p2", "c2", None, None),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX out: <urn:out:>
        CONSTRUCT { ?e out:r ?c }
        WHERE {
          ?e <urn:p0> ?x .
          OPTIONAL { ?e <urn:p1> ?c }
          { ?e <urn:p2> ?c } UNION { ?e <urn:p3> ?c }
        }
        """,
    )
    rows = {(r.subject, r.object) for r in out.collect()}
    # e1: ?c bound to c1 by OPTIONAL -> union branch must agree (c1
    # only; c9 is incompatible). e2: ?c unbound after OPTIONAL ->
    # compatible with the branch's c2.
    assert rows == {("e1", "c1"), ("e2", "c2")}


def test_optional_var_reused_in_later_optional_left_compat(spark):
    """Left compatible-binding join: a second OPTIONAL sharing a
    maybe-unbound variable extends solutions where compatible and
    null-fills where not matched."""
    quads = _quads(
        spark,
        [
            ("e1", "urn:p0", "x", None, None),
            ("e2", "urn:p0", "x", None, None),
            ("e3", "urn:p0", "x", None, None),
            ("e1", "urn:p1", "c1", None, None),      # opt1 matches e1
            ("e1", "urn:p2", "c1", None, None),      # opt2 agrees for e1
            ("e2", "urn:p2", "c2", None, None),      # opt2 binds ?c for e2
            # e3: neither optional matches
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX out: <urn:out:>
        CONSTRUCT { ?e out:c ?c . ?e out:mark <urn:seen> }
        WHERE {
          ?e <urn:p0> ?x .
          OPTIONAL { ?e <urn:p1> ?c }
          OPTIONAL { ?e <urn:p2> ?c . ?e <urn:p0> ?y }
        }
        """,
    )
    rows = {(r.subject, r.predicate, r.object) for r in out.collect()}
    assert rows == {
        ("e1", "urn:out:c", "c1"),
        ("e2", "urn:out:c", "c2"),
        ("e1", "urn:out:mark", "urn:seen"),
        ("e2", "urn:out:mark", "urn:seen"),
        ("e3", "urn:out:mark", "urn:seen"),
    }


def test_numeric_literal_comparison_is_numeric(spark):
    """FILTER(?n > 9) compares numerically when one operand is a
    NUMBER literal: "10" > 9 holds (lexicographic would say "10"<"9");
    non-numeric values type-error to no solution."""
    quads = _quads(
        spark,
        [
            ("e1", "urn:n", "10", None, None),
            ("e2", "urn:n", "9", None, None),
            ("e3", "urn:n", "100", None, None),
            ("e4", "urn:n", "abc", None, None),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX out: <urn:out:>
        CONSTRUCT { ?e out:big ?n }
        WHERE { ?e <urn:n> ?n . FILTER (?n > 9) }
        """,
    )
    assert {r.subject for r in out.collect()} == {"e1", "e3"}


def test_param_in_triple_position_constrains_scan(spark):
    """An injected parameter appearing in a pattern's OBJECT position
    constrains the scan (the reference runner's text substitution),
    rather than binding from data; expression references resolve to
    the same literal and BOUND() is true."""
    quads = _quads(
        spark,
        [
            ("org1", "urn:ident", "OR-1", None, None),
            ("org2", "urn:ident", "OR-2", None, None),
            ("org1", "urn:name", "Archief", None, None),
            ("org2", "urn:name", "Stad", None, None),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX out: <urn:out:>
        CONSTRUCT { ?o out:name ?n . ?o out:code ?code }
        WHERE {
          ?o <urn:ident> ?maintainer_id .
          ?o <urn:name> ?n .
          BIND (CONCAT("code-", ?maintainer_id) AS ?code)
          FILTER (BOUND(?maintainer_id))
        }
        """,
        params={"maintainer_id": "OR-2"},
    )
    rows = {(r.subject, r.predicate, r.object) for r in out.collect()}
    assert rows == {
        ("org2", "urn:out:name", "Stad"),
        ("org2", "urn:out:code", "code-OR-2"),
    }
    # and WITHOUT the binding, the variable binds from data as before
    SQ.clear_plan_cache()
    out2 = SQ.construct_query(
        quads,
        """
        PREFIX out: <urn:out:>
        CONSTRUCT { ?o out:name ?n }
        WHERE { ?o <urn:ident> ?maintainer_id . ?o <urn:name> ?n }
        """,
    )
    assert {r.subject for r in out2.collect()} == {"org1", "org2"}


@needs_reference
def test_av_audio_maintainer_scoped_equals_filtered(spark):
    """The per-org fan-out invariant (1_kg_view_construct.ts:47-63):
    av-audio bound to maintainer_id=OR-3 returns exactly the unscoped
    result's triples for that organisation's entities."""
    from prefect_flow_arc_kg_postgres_etl_spark.plans import kg

    sf = "/root/testdata/sf0.001"
    scoped = {
        tuple(r)
        for r in kg.kg_construct_real_query_av_audio_org(spark, sf).collect()
    }
    full = {
        tuple(r)
        for r in kg.kg_construct_real_query_av_audio(spark, sf).collect()
    }
    assert scoped, "scoped run is empty — OR-3 must exist in the store"
    assert scoped < full
    # every scoped triple subject belongs to OR-3's entity set: the
    # unscoped triples NOT in the scoped set share no subject with it
    scoped_subjects = {s for s, _, _ in scoped}
    rest_subjects = {s for s, _, _ in full - scoped}
    assert not (scoped_subjects & rest_subjects)


def test_nps_inverse_members(spark):
    """!(^p) and !(p|^q): inverse members negate over INCOMING arcs
    (SPARQL 1.1 §9.1), composing with forward complements as a union."""
    quads = _quads(
        spark,
        [
            ("a", "urn:p", "b", None, None),
            ("a", "urn:r", "c", None, None),
            ("x", "urn:q", "a", None, None),
            ("y", "urn:s", "a", None, None),
        ],
    )
    # pure inverse: !(^q) over incoming arcs of ?v -> only the s-arc
    out = SQ.select_query(
        quads, "SELECT ?v WHERE { <a> !(^<urn:q>) ?v }"
    )
    # forward complement absent (no fwd members): matches (a,v) where
    # some triple (v, ?, a) has predicate outside {q} -> v = y
    assert {r.v for r in out.collect()} == {"y"}
    # mixed: forward complement of {p} plus inverse complement of {q}
    SQ.clear_plan_cache()
    out2 = SQ.select_query(
        quads, "SELECT ?v WHERE { <a> !(<urn:p>|^<urn:q>) ?v }"
    )
    assert {r.v for r in out2.collect()} == {"c", "y"}


def test_reference_query_dir_env_override(monkeypatch, tmp_path):
    """REFERENCE_QUERY_DIR points the verbatim entries at any checkout
    of the reference's query files; the default stays the harness
    path. Module paths are resolved at import time, so the override is
    exercised through the resolver itself."""
    import importlib

    from prefect_flow_arc_kg_postgres_etl_spark.plans import kg

    assert kg._reference_query_path("person.sparql") == (
        "/root/reference/typescript/queries/person.sparql"
    )
    monkeypatch.setenv("REFERENCE_QUERY_DIR", str(tmp_path))
    assert kg._reference_query_path("person.sparql") == str(
        tmp_path / "person.sparql"
    )


def test_load_reference_query_reads_dir_or_raises_typed(monkeypatch, tmp_path):
    """The one reference loader reads from REFERENCE_QUERY_DIR at call
    time, and an absent file raises ReferenceUnavailable (a
    FileNotFoundError) naming it."""
    from prefect_flow_arc_kg_postgres_etl_spark.plans import kg

    (tmp_path / "person.sparql").write_text("CONSTRUCT {} WHERE {}")
    monkeypatch.setenv("REFERENCE_QUERY_DIR", str(tmp_path))
    assert kg.load_reference_query("person.sparql") == "CONSTRUCT {} WHERE {}"
    empty = tmp_path / "empty"
    empty.mkdir()
    monkeypatch.setenv("REFERENCE_QUERY_DIR", str(empty))
    with pytest.raises(kg.ReferenceUnavailable, match="person.sparql"):
        kg.load_reference_query("person.sparql")
    assert issubclass(kg.ReferenceUnavailable, FileNotFoundError)


def test_compat_join_preserves_lang_term_identity(spark):
    """Compatible-binding join over a LANG-TAGGED shared variable:
    where both sides are bound the (value, lang) TERM must match;
    where the OPTIONAL left the variable unbound, the branch's term is
    adopted wholesale — value and tag."""
    quads = _quads(
        spark,
        [
            ("e1", "urn:p0", "x", None, None),
            ("e2", "urn:p0", "x", None, None),
            ("e3", "urn:p0", "x", None, None),
            # OPTIONAL binds ?c for e1 (nl) and e3 (en)
            ("e1", "urn:p1", "fiets", "nl", None),
            ("e3", "urn:p1", "fiets", "en", None),
            # union branch binds ?c with nl tags
            ("e1", "urn:p2", "fiets", "nl", None),
            ("e2", "urn:p2", "kar", "nl", None),
            ("e3", "urn:p2", "fiets", "nl", None),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX out: <urn:out:>
        CONSTRUCT { ?e out:r ?c }
        WHERE {
          ?e <urn:p0> ?x .
          OPTIONAL { ?e <urn:p1> ?c }
          { ?e <urn:p2> ?c } UNION { ?e <urn:p3> ?c }
        }
        """,
    )
    rows = {(r.subject, r.object) for r in out.collect()}
    # e1: "fiets"@nl == "fiets"@nl -> joins; e2: unbound -> adopts
    # "kar"@nl; e3: "fiets"@en vs "fiets"@nl -> DIFFERENT TERMS, no
    # solution from the branch (and the OPTIONAL binding alone emits
    # nothing because the union is mandatory).
    assert rows == {("e1", "fiets"), ("e2", "kar")}


def test_numeric_comparison_exact_above_double_range(spark):
    """r9 ADVICE: integer-shaped numeric FILTER comparisons dispatch on
    decimal, not double — 9007199254740993 > 9007199254740992 must hold
    (both collapse to the same double, where the comparison would
    wrongly fail), and huge equal-under-double values must not leak
    through a strict > filter."""
    quads = _quads(
        spark,
        [
            ("e1", "urn:n", "9007199254740993", None, None),
            ("e2", "urn:n", "9007199254740992", None, None),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX out: <urn:out:>
        CONSTRUCT { ?e out:big ?n }
        WHERE { ?e <urn:n> ?n . FILTER (?n > 9007199254740992) }
        """,
    )
    assert {r.subject for r in out.collect()} == {"e1"}


def test_order_cmp_with_numeric_literal_not_certainly_bound():
    """r9 ADVICE: a </>/<=/>= comparison with a numeric-literal operand
    takes the numeric try_cast path, so a bound non-numeric operand
    yields NULL — the static analysis must NOT mark its result
    certainly bound (equality comparisons stay string-typed and keep
    the old rule)."""
    def parse(s):
        return SQ.Parser(s).parse_expr()

    assert not SQ._expr_certainly_bound(parse("?n > 9"), {"n"})
    assert not SQ._expr_certainly_bound(parse("9 <= ?n"), {"n"})
    # equality and literal-free order comparisons keep the old rule
    assert SQ._expr_certainly_bound(parse("?n = ?m"), {"n", "m"})
    assert SQ._expr_certainly_bound(parse("?n > ?m"), {"n", "m"})
    assert not SQ._expr_certainly_bound(parse("?n > ?m"), {"n"})


def test_numeric_cast_type_dispatch():
    """Integer/decimal-shaped literals -> exact decimal; wide fractions
    and num:* arithmetic results -> double."""
    def parse(s):
        return SQ.Parser(s).parse_expr()

    assert SQ._numeric_cast_type(*parse("?n > 9")[1:]) == "decimal(38,10)"
    assert SQ._numeric_cast_type(*parse("?n > 9.25")[1:]) == "decimal(38,10)"
    assert (
        SQ._numeric_cast_type(*parse("?n > 0.12345678901")[1:]) == "double"
    )
    assert SQ._numeric_cast_type(*parse("?n > (?m * 2)")[1:]) == "double"


def test_numeric_filter_double_fallback_rows(spark):
    """r10 ADVICE: the exact-decimal order-comparison dispatch is
    guarded PER ROW — data values whose lexical form does not fit
    decimal(38,10) exactly (xsd:double exponent forms, >28 integer
    digits, >10 fraction digits) compare on a double leg instead of
    try_cast-ing to NULL and silently dropping, and the boundary case
    where decimal rounding would flip a strict comparison stays
    correct."""
    quads = _quads(
        spark,
        [
            # exponent form: 1.5E3 = 1500 > 9 must SURVIVE the filter
            ("e_exp", "urn:n", "1.5E3", None, None),
            # 29-digit integer: decimal(38,10) rejects; double leg keeps
            ("e_wide", "urn:n", "12345678901234567890123456789", None, None),
            # 11 fraction digits just above 1: decimal cast would round
            # DOWN to 1.0000000000 and drop it from '> 1' — double leg
            # keeps it
            ("e_frac", "urn:n", "1.00000000001", None, None),
            # plain exact-decimal rows on both sides of the predicate
            ("e_lo", "urn:n", "5", None, None),
            ("e_hi", "urn:n", "10", None, None),
            # garbage still drops (type error -> no solution)
            ("e_bad", "urn:n", "not-a-number", None, None),
        ],
    )
    out = SQ.construct_query(
        quads,
        """
        PREFIX out: <urn:out:>
        CONSTRUCT { ?e out:big ?n }
        WHERE { ?e <urn:n> ?n . FILTER (?n > 9) }
        """,
    )
    assert {r.subject for r in out.collect()} == {"e_exp", "e_wide", "e_hi"}

    out2 = SQ.construct_query(
        quads,
        """
        PREFIX out: <urn:out:>
        CONSTRUCT { ?e out:gt1 ?n }
        WHERE { ?e <urn:n> ?n . FILTER (?n > 1) }
        """,
    )
    assert {r.subject for r in out2.collect()} == {
        "e_exp", "e_wide", "e_frac", "e_lo", "e_hi",
    }


def test_reliable_checkpoint_mode(spark, monkeypatch, tmp_path):
    """SPARK_GRAFT_RELIABLE_CHECKPOINT=1 (r9: the cluster-durable
    lineage-truncation mode): accumulator checkpoints become RELIABLE
    checkpoints under the session checkpoint dir — files land on
    (shared) storage that survives executor loss — and results are
    identical to the default executor-local mode."""
    quads = _quads(
        spark,
        [("e1", f"urn:p{i}", f"v{i}", None, None) for i in range(10)],
    )
    body = " ".join(f"?e <urn:p{i}> ?v{i} ." for i in range(10))
    tmpl = " ".join(f"?e <urn:out:p{i}> ?v{i} ." for i in range(10))
    text = f"CONSTRUCT {{ {tmpl} }} WHERE {{ {body} }}"

    SQ.clear_plan_cache()
    base = sorted(map(tuple, SQ.construct_query(quads, text).collect()))

    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    SQ.clear_plan_cache()
    durable = sorted(map(tuple, SQ.construct_query(quads, text).collect()))
    assert durable == base and base

    import glob

    landed = glob.glob(str(ckpt / "**" / "rdd-*"), recursive=True)
    assert landed, "no reliable checkpoint files landed"
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT")
    SQ.clear_plan_cache()


def test_star_fusion_differential(spark, monkeypatch):
    """Property-table STAR fusion (same-subject constant-predicate
    triples -> one predicate-IN scan + one subject pivot, r11) must be
    row-for-row identical to the per-triple join path on the shapes
    that exercise its semantics: multi-valued predicates (bag CROSS
    PRODUCT per subject), a const-object member, an all-plain
    alternation member, a seq chain whose head joins the star (the
    pre-expansion path — its internal var is the join key and must
    survive), a variable GRAPH position, and single-triple OPTIONALs
    attached as optional star members (explode_outer = left-join
    multiplicity including the all-null row for a no-match subject)."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators import sparql as SQ

    quads = _quads(
        spark,
        [
            # e1: 2 names x 2 genres -> 4-row cross product
            ("e1", "urn:a", "Doc", None, "g1"),
            ("e1", "urn:name", "n1", None, "g1"),
            ("e1", "urn:name", "n2", "nl", "g1"),
            ("e1", "urn:genre", "ga", None, "g1"),
            ("e1", "urn:genre", "gb", None, "g1"),
            # alternation member: one hit via :alt1, one via :alt2
            ("e1", "urn:alt1", "x1", None, "g1"),
            ("e1", "urn:alt2", "x2", None, "g1"),
            # seq chain: e1 -> s1 -> value
            ("e1", "urn:stored", "s1", None, "g1"),
            ("s1", "urn:val", "v1", None, "g1"),
            # optional member: two hits on e1
            ("e1", "urn:note", "o1", None, "g1"),
            ("e1", "urn:note", "o2", None, "g1"),
            # e2: qualifies, but no optional match and one of each
            ("e2", "urn:a", "Doc", None, "g2"),
            ("e2", "urn:name", "m1", None, "g2"),
            ("e2", "urn:genre", "gc", None, "g2"),
            ("e2", "urn:alt1", "y1", None, "g2"),
            ("e2", "urn:stored", "s2", None, "g2"),
            ("s2", "urn:val", "v2", None, "g2"),
            # e3: misses the required :genre -> excluded entirely
            ("e3", "urn:a", "Doc", None, "g1"),
            ("e3", "urn:name", "z1", None, "g1"),
        ],
    )
    text = """
    PREFIX : <urn:>
    CONSTRUCT {
      ?e :name ?n. ?e :genre ?g. ?e :alt ?x.
      ?e :stored_val ?v. ?e :note ?o. ?e :gr ?gr.
    }
    WHERE {
      GRAPH ?gr {
        ?e :a "Doc" ;
           :name ?n ;
           :genre ?g ;
           :alt1|:alt2 ?x ;
           :stored/:val ?v .
        OPTIONAL { ?e :note ?o }
      }
    }
    """

    # BAG multiplicity differential (CONSTRUCT dedups to an RDF set, so
    # the cross product is asserted on the SELECT solution multiset)
    sel = """
    PREFIX : <urn:>
    SELECT ?e ?n ?g ?x ?v ?o WHERE {
      GRAPH ?gr {
        ?e :a "Doc" ;
           :name ?n ;
           :genre ?g ;
           :alt1|:alt2 ?x ;
           :stored/:val ?v .
        OPTIONAL { ?e :note ?o }
      }
    }
    """

    def rows(mode: str):
        monkeypatch.setenv("SPARK_GRAFT_SPARQL_STAR_FUSION", mode)
        SQ.clear_plan_cache()
        out = (
            sorted(map(tuple, SQ.construct_query(quads, text).collect())),
            sorted(map(tuple, SQ.select_query(quads, sel).collect())),
        )
        SQ.clear_plan_cache()
        return out

    fused, plain = rows("1"), rows("0")
    assert fused == plain
    bindings = fused[1]
    # e1: 2 names x 2 genres x 2 alts x 2 notes = 16 solutions; e2: 1
    # solution with an UNBOUND ?o (the optional's all-null row)
    assert len([r for r in bindings if r[0] == "e1"]) == 16
    e2 = [r for r in bindings if r[0] == "e2"]
    assert len(e2) == 1 and e2[0][5] is None
    # e3 misses the required :genre -> excluded entirely
    assert not [r for r in bindings if r[0] == "e3"]


def test_select_order_by_expression_keys(spark):
    """r12: ORDER BY expression sort keys (`ORDER BY DESC(COUNT(*))`,
    the common analyst form) lower through the same hidden-column
    hoisting HAVING uses — one aggregation, hidden sort columns
    dropped from the projection. A trailing plain var key composes as
    the tiebreak."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators import sparql as SQ

    quads = _quads(
        spark,
        [("a", "urn:tag", f"t{i}", None, "g") for i in range(3)]
        + [("b", "urn:tag", f"t{i}", None, "g") for i in range(2)]
        + [("c", "urn:tag", "t0", None, "g")]
        + [("d", "urn:tag", "u0", None, "g"), ("d", "urn:tag", "u1", None, "g")],
    )
    sel = """
    PREFIX : <urn:>
    SELECT ?p (COUNT(*) AS ?n) WHERE { GRAPH <g> { ?p <urn:tag> ?t } }
    GROUP BY ?p
    ORDER BY DESC(COUNT(*)) ?p
    """
    rows = SQ.select_query(quads, sel).collect()
    assert [(r.p, int(r.n)) for r in rows] == [
        ("a", 3), ("b", 2), ("d", 2), ("c", 1)
    ]
    assert rows[0].asDict().keys() == {"p", "n"}  # hidden cols dropped

    # expression key over a HAVING-filtered aggregation (both hoist
    # into the same single aggregation), plus LIMIT after the sort
    sel2 = """
    PREFIX : <urn:>
    SELECT ?p WHERE { GRAPH <g> { ?p <urn:tag> ?t } }
    GROUP BY ?p
    HAVING (COUNT(*) >= 2)
    ORDER BY ASC(COUNT(*)) DESC(?p)
    LIMIT 2
    """
    rows2 = SQ.select_query(quads, sel2).collect()
    assert [r.p for r in rows2] == ["d", "b"]


def test_star_fusion_fanout_guard_demotes_hot_subjects(spark, monkeypatch):
    """r12 (the r11 verdict's one `weak`): a hot (subject x predicate)
    above SPARK_GRAFT_STAR_FANOUT_MAX must be demoted from the
    collect_list pivot to the streaming classic-join path — per
    SUBJECT, inside one declarative plan — with bag semantics
    bit-identical to both the unguarded pivot and the per-triple join
    path. Fixture: one subject hot on a REQUIRED member, one hot on an
    OPTIONAL member, one hot but missing a required member (must stay
    excluded), and one well-behaved subject, under a variable GRAPH
    position (the (subject, graph) grouping key)."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators import sparql as SQ

    rows_in = [("h1", "urn:a", "Doc", None, "g1")]
    rows_in += [("h1", "urn:name", f"n{i}", None, "g1") for i in range(3)]
    rows_in += [("h1", "urn:genre", f"g{i}", None, "g1") for i in range(30)]
    rows_in += [("h1", "urn:note", f"o{i}", None, "g1") for i in range(2)]
    rows_in += [
        ("e2", "urn:a", "Doc", None, "g2"),
        ("e2", "urn:name", "m1", None, "g2"),
        ("e2", "urn:genre", "mg", None, "g2"),
    ]
    rows_in += [("e4", "urn:a", "Doc", None, "g1"),
                ("e4", "urn:name", "q1", None, "g1"),
                ("e4", "urn:genre", "qg", None, "g1")]
    rows_in += [("e4", "urn:note", f"qo{i}", None, "g1") for i in range(15)]
    # hot on genre but missing :name -> excluded on every path
    rows_in += [("e5", "urn:a", "Doc", None, "g1")]
    rows_in += [("e5", "urn:genre", f"xg{i}", None, "g1") for i in range(20)]
    quads = _quads(spark, rows_in)

    sel = """
    PREFIX : <urn:>
    SELECT ?e ?gr ?n ?g ?o WHERE {
      GRAPH ?gr {
        ?e :a "Doc" ; :name ?n ; :genre ?g .
        OPTIONAL { ?e :note ?o }
      }
    }
    """

    def rows(fusion: str, fanout_max: str):
        monkeypatch.setenv("SPARK_GRAFT_SPARQL_STAR_FUSION", fusion)
        monkeypatch.setenv("SPARK_GRAFT_STAR_FANOUT_MAX", fanout_max)
        SQ.clear_plan_cache()
        out = sorted(map(tuple, SQ.select_query(quads, sel).collect()))
        SQ.clear_plan_cache()
        return out

    guarded = rows("1", "10")       # h1/e4/e5 all exceed 10 somewhere
    unguarded = rows("1", "0")      # pure pivot
    plain = rows("0", "10")         # per-triple joins
    assert guarded == unguarded == plain
    # bag multiplicities: h1 = 3 names x 30 genres x 2 notes; e4's
    # optional fan-out = 15; e2 = one solution with unbound ?o; e5 out
    assert len([r for r in guarded if r[0] == "h1"]) == 3 * 30 * 2
    assert len([r for r in guarded if r[0] == "e4"]) == 15
    e2 = [r for r in guarded if r[0] == "e2"]
    assert len(e2) == 1 and e2[0][4] is None and e2[0][1] == "g2"
    assert not [r for r in guarded if r[0] == "e5"]


def test_star_optional_rebound_var_falls_back(spark, monkeypatch):
    """An OPTIONAL whose variable is later re-bound by a triple must
    NOT attach as an optional star member — the rebind needs
    compatible-binding join semantics. Differential: star on == off."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators import sparql as SQ

    quads = _quads(
        spark,
        [
            ("e1", "urn:a", "Doc", None, "g"),
            ("e1", "urn:name", "n1", None, "g"),
            ("e1", "urn:tag", "t1", None, "g"),
            ("e1", "urn:tag2", "t1", None, "g"),
            ("e2", "urn:a", "Doc", None, "g"),
            ("e2", "urn:name", "n2", None, "g"),
            ("e2", "urn:tag2", "t9", None, "g"),
        ],
    )
    text = """
    PREFIX : <urn:>
    CONSTRUCT { ?e :out ?t. }
    WHERE {
      ?e :a "Doc" ; :name ?n .
      OPTIONAL { ?e :tag ?t }
      ?e :tag2 ?t .
    }
    """

    def rows(mode: str):
        monkeypatch.setenv("SPARK_GRAFT_SPARQL_STAR_FUSION", mode)
        SQ.clear_plan_cache()
        out = sorted(map(tuple, SQ.construct_query(quads, text).collect()))
        SQ.clear_plan_cache()
        return out

    fused, plain = rows("1"), rows("0")
    assert fused == plain
    # e1's tag t1 is compatible with tag2 t1 -> kept; e2's unbound
    # optional is compatible with t9 -> kept
    assert ("e1", "urn:out", "t1") in fused
    assert ("e2", "urn:out", "t9") in fused


def test_disjoint_groups_cross_product_is_broadcast_not_cartesian(spark):
    """Variable-disjoint groups are a true cross product; the compiler
    must plan them as BroadcastNestedLoopJoin, never CartesianProduct.
    A bare crossJoin over stat-less frames multiplies PARTITION counts
    (|a| x |b| per cross, compounding per group) — a Hypothesis
    differential run hit a 3-group draw that scheduled >40k tiny
    python-scan tasks and ran for hours (r12). Rows are pinned against
    the brute-force expansion so the strategy change is result-neutral."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators import sparql as SQ

    rows = [
        (f"urn:s{i % 4}", f"urn:p{i % 3}", f"urn:o{i % 3}", None, "g")
        for i in range(14)
    ]
    quads = _quads(spark, rows)
    text = """
    PREFIX out: <urn:out:>
    CONSTRUCT { ?a out:r1 ?b . ?c out:r2 ?d . ?e out:r3 <urn:k> }
    WHERE {
      ?a <urn:p0> ?b .
      ?c <urn:p1> ?d .
      { ?e <urn:p2> ?f } UNION { ?f <urn:p2> ?e }
    }
    """
    SQ.clear_plan_cache()
    df = SQ.construct_query(quads, text)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    SQ.clear_plan_cache()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    # brute-force reference: distinct template expansions of the
    # cross product of the three group solutions
    p0 = {(s, o) for s, p, o, _, _ in rows if p == "urn:p0"}
    p1 = {(s, o) for s, p, o, _, _ in rows if p == "urn:p1"}
    p2s = {s for s, p, o, _, _ in rows if p == "urn:p2"}
    p2o = {o for s, p, o, _, _ in rows if p == "urn:p2"}
    expect = set()
    for a, b in p0:
        for c, d in p1:
            for e in p2s | p2o:
                expect.add((a, "urn:out:r1", b))
                expect.add((c, "urn:out:r2", d))
                expect.add((e, "urn:out:r3", "urn:k"))
    got = {(r.subject, r.predicate, r.object) for r in df.collect()}
    assert got == expect


def test_cross_join_probe_failure_does_not_broadcast(spark):
    """When the size probe of a variable-disjoint cross join raises, the
    right side's size is unknown, so it must not be broadcast: the
    join falls back to the plain crossJoin (no BroadcastNestedLoopJoin
    once size-based broadcasting is off)."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_kg_postgres_etl_spark.operators import sparql as SQ

    a = spark.range(3).toDF("x")
    # every row fails the assertion, so the probe's count raises
    b = spark.range(3).toDF("y").filter(F.assert_true(F.col("y") < 0).isNull())
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = SQ._join(a, b)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set(key, prev)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" in plan
