"""A-block plans: the reference's KG/ETL operators exercised on the
harness tables, each with a DuckDB oracle (SURVEY.md §2 A1-A16).

The KG is modeled by melting relational tables into triples (the shape
the reference streams out of TriplyDB) and running the triple-model
operators on them; every result is independently reproducible in ANSI
SQL, which is what makes the driver's oracle check meaningful.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from prefect_flow_arc_kg_postgres_etl_spark.functions.coercion import (
    bool_default_false,
    iso_duration_seconds,
    safe_timestamp,
)
from prefect_flow_arc_kg_postgres_etl_spark.operators import merge as M
from prefect_flow_arc_kg_postgres_etl_spark.operators import sparql as SQ
from prefect_flow_arc_kg_postgres_etl_spark.operators import triples as T
from prefect_flow_arc_kg_postgres_etl_spark.operators.index_documents import (
    build_index_documents,
    partition_stats,
)
from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table
from prefect_flow_arc_kg_postgres_etl_spark.session import scratch_dir
from prefect_flow_arc_kg_postgres_etl_spark.sources.store import (
    read_parquet,
    staged_input,
)

CUSTOMER_COLS = ["c_name", "c_mktsegment", "c_nationkey", "c_acctbal"]

# ---------------------------------------------------------------- A1 melt
def kg_melt_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return T.melt(cust, "c_custkey", CUSTOMER_COLS, subject_prefix="customer:").select(
        "subject", "predicate", "object"
    )


KG_MELT_ORACLE = " UNION ALL ".join(
    f"SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS subject, "
    f"'{c}' AS predicate, CAST({c} AS VARCHAR) AS object "
    f"FROM customer WHERE {c} IS NOT NULL"
    for c in CUSTOMER_COLS
)


# ------------------------------------------------------------- A2 pivot
def kg_pivot_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    triples = T.melt(cust, "c_custkey", CUSTOMER_COLS, subject_prefix="customer:")
    return T.pivot_records(triples, CUSTOMER_COLS)


KG_PIVOT_ORACLE = (
    "SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS subject, "
    + ", ".join(f"CAST({c} AS VARCHAR) AS {c}" for c in CUSTOMER_COLS)
    + " FROM customer"
)


# --------------------------------------------------------- A3 construct
def kg_construct_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSTRUCT a relational view over a two-'graph' triple store:
    customer triples joined to nation triples through the shared ?nk
    variable, scoped to one segment — the shape of queries/av-audio.sparql
    (entity + maintainer-organisation patterns)."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    graph = T.melt(cust, "c_custkey", CUSTOMER_COLS).unionByName(
        T.melt(nat, "n_nationkey", ["n_name"])
    )
    out = SQ.select_query(
        graph,
        """SELECT ?c ?cust_name ?nation_name WHERE {
          ?c <c_name> ?cust_name ; <c_mktsegment> "BUILDING" ;
             <c_nationkey> ?nk .
          ?nk <n_name> ?nation_name
        }""",
    )
    return out.select(
        F.col("c").alias("id"),
        F.col("cust_name"),
        F.col("nation_name"),
    )


KG_CONSTRUCT_ORACLE = """
SELECT CAST(c_custkey AS VARCHAR) AS id,
       c_name AS cust_name,
       n_name AS nation_name
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_mktsegment = 'BUILDING'
"""


# ------------------------------------------------- staged quad stores
def _staged_by_predicate(tag: str, tables: tuple[str, ...]):
    """Decorate a quad-store builder ``(spark, sf_dir) -> DataFrame`` so
    that its rows are staged once per content of ``sf_dir``'s
    ``tables`` (``store.staged_input``), as parquet partitioned by
    predicate, and read back from there. Every BGP pattern filters on
    one predicate (or a small in-list), so each pattern scan prunes to
    its posting list instead of re-deriving the store per pattern: the
    vertical-partitioning layout for RDF on columnar storage.
    ``repartition("predicate")`` lands each posting list in one task,
    so one file per partition dir (355 -> 96 files for the deletes
    store): a compiled SPARQL plan re-scans the store hundreds of
    times. At real scale the writer would cap file size per predicate
    instead of forcing exactly one."""

    def wrap(quads):
        @functools.wraps(quads)
        def staged(spark: SparkSession, sf_dir: str) -> DataFrame:
            def build(out: str) -> None:
                frame = quads(spark, sf_dir).repartition("predicate")
                frame.write.partitionBy("predicate").parquet(out)

            files = [os.path.join(sf_dir, f"{t}.parquet") for t in tables]
            return read_parquet(spark, staged_input(tag, files, build))

        return staged

    return wrap


# ------------------------------------- A17 construct: OPTIONAL + VALUES
@_staged_by_predicate("kg_graph_v3", ("customer", "nation", "orders"))
def _kg_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer + nation + orders melted into one triple graph — the
    multi-'graph' store the reference queries span (entity graph +
    organization graph, person.sparql:48-56), staged by predicate
    once per source content and reused across the construct
    queries."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    # Quad layout: entity data and org data live in separate NAMED
    # GRAPHS (the reference store keeps organizations in their own
    # graph — person.sparql:51 GRAPH ?ORGraph). graph:staging holds a
    # draft copy of the org names so that GRAPH-scoped queries are
    # discriminating: an unscoped n_name pattern matches both copies.
    nat_draft = nat.select(
        "n_nationkey",
        F.concat(F.col("n_name"), F.lit(" (draft)")).alias("n_name"),
    )
    graph = (
        T.melt(
            cust,
            "c_custkey",
            ["c_name", "c_mktsegment", "c_nationkey"],
            graph="graph:entities",
        )
        .unionByName(T.melt(nat, "n_nationkey", ["n_name"], graph="graph:orgs"))
        .unionByName(
            T.melt(nat_draft, "n_nationkey", ["n_name"], graph="graph:staging")
        )
        .unionByName(
            T.melt(
                orders,
                "o_orderkey",
                ["o_custkey", "o_orderpriority"],
                graph="graph:entities",
            )
        )
    )
    return graph.distinct()  # RDF graphs are SETS of triples


def kg_construct_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL OPTIONAL + VALUES semantics: customers in a VALUES-listed
    segment, LEFT-bound to their urgent orders (customers without one
    keep a NULL binding) — the dominant shape of the reference queries
    (73 OPTIONAL groups in av-audio.sparql; VALUES at
    person.sparql:53)."""
    out = SQ.select_query(
        _kg_graph(spark, sf_dir),
        """SELECT ?c ?name ?seg ?o WHERE {
          ?c <c_name> ?name ; <c_mktsegment> ?seg .
          VALUES ?seg { "BUILDING" "MACHINERY" }
          OPTIONAL { ?o <o_custkey> ?c ; <o_orderpriority> "1-URGENT" }
        }""",
    )
    return out.select(
        F.col("c").alias("id"),
        F.col("name").alias("cust_name"),
        F.col("seg").alias("segment"),
        F.col("o").alias("urgent_order"),
    )


KG_OPTIONAL_ORACLE = """
SELECT CAST(c_custkey AS VARCHAR) AS id,
       c_name AS cust_name,
       c_mktsegment AS segment,
       CAST(o_orderkey AS VARCHAR) AS urgent_order
FROM customer LEFT JOIN orders
  ON o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
"""


# --------------------------- A22 construct: UNION + BIND + NOT EXISTS
def kg_construct_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining SPARQL WHERE forms the reference queries lean on:
    group UNION (218 uses across queries/*.sparql), BIND (100 uses),
    FILTER NOT EXISTS. Customers in BUILDING whose contact channel is
    either an urgent order OR their nation record (UNION), excluding
    customers that have a LOW-priority order (NOT EXISTS), with a BIND
    composing a display id."""
    # The org-name lookup is GRAPH-scoped: graph:staging holds a draft
    # copy of n_name that must NOT leak into results.
    out = SQ.select_query(
        _kg_graph(spark, sf_dir),
        """SELECT ?c ?o ?nation ?display WHERE {
          ?c <c_mktsegment> "BUILDING" .
          { ?o <o_custkey> ?c ; <o_orderpriority> "1-URGENT" }
          UNION
          { ?c <c_nationkey> ?nk . GRAPH <graph:orgs> { ?nk <n_name> ?nation } }
          FILTER NOT EXISTS { ?lo <o_custkey> ?c ; <o_orderpriority> "5-LOW" }
          BIND(CONCAT("cust-", ?c) AS ?display)
        }""",
    )
    return out.select(
        F.col("c").alias("cust_id"),
        F.col("o").alias("urgent_order"),
        F.col("nation"),
        F.col("display"),
    )


KG_UNION_ORACLE = """
WITH base AS (
  SELECT CAST(c_custkey AS VARCHAR) AS cust_id
  FROM customer
  WHERE c_mktsegment = 'BUILDING'
    AND NOT EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderpriority = '5-LOW')
),
branch_a AS (
  SELECT CAST(o_custkey AS VARCHAR) AS cust_id,
         CAST(o_orderkey AS VARCHAR) AS urgent_order,
         CAST(NULL AS VARCHAR) AS nation
  FROM orders WHERE o_orderpriority = '1-URGENT'
),
branch_b AS (
  SELECT CAST(c_custkey AS VARCHAR) AS cust_id,
         CAST(NULL AS VARCHAR) AS urgent_order,
         n_name AS nation
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
u AS (SELECT * FROM branch_a UNION ALL SELECT * FROM branch_b)
SELECT b.cust_id, u.urgent_order, u.nation, 'cust-' || b.cust_id AS display
FROM base b JOIN u ON u.cust_id = b.cust_id
"""


# ------------------------------- A23 construct: GRAPH ?g scoping
def kg_construct_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-graph scoping, the person.sparql:51 shape: ``GRAPH
    ?ORGraph { ?org ... }`` with the graph VARIABLE constrained by
    VALUES — this is how org scoping actually works in the reference
    (the org graph id is an input parameter). The pattern binds ?g from
    the quad's graph column and the VALUES in-list prunes the scan to
    that graph's partition. Discriminating: graph:staging carries a
    draft copy of every n_name, so an unscoped query would return two
    bindings per customer; the GRAPH constraint must keep exactly the
    org-graph one."""
    out = SQ.select_query(
        _kg_graph(spark, sf_dir),
        """SELECT ?c ?name ?nation ?g WHERE {
          ?c <c_name> ?name ; <c_nationkey> ?nk .
          GRAPH ?g { ?nk <n_name> ?nation }
          VALUES ?g { <graph:orgs> }
        }""",
    )
    return out.select(
        F.col("c").alias("id"),
        F.col("name").alias("cust_name"),
        F.col("nation"),
        F.col("g").alias("org_graph"),
    )


KG_GRAPH_ORACLE = """
SELECT CAST(c_custkey AS VARCHAR) AS id,
       c_name AS cust_name,
       n_name AS nation,
       'graph:orgs' AS org_graph
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


# --------------------------- A24 construct: FILTER over OPTIONAL (!BOUND)
def kg_construct_filter_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conditional-since shape (av-audio.sparql:220):
    ``OPTIONAL { ... ?x } FILTER (!BOUND(?x) || <condition on ?x>)`` —
    keep rows where the optional binding is absent OR satisfies the
    condition. In the triple model an unbound variable is a NULL
    column, so !BOUND(?o) is ``isNull`` and the disjunction is an
    ordinary Column filter applied to the matched solutions (SPARQL
    has no modulo, and a top-level FILTER is a filter after matching)."""
    out = SQ.select_query(
        _kg_graph(spark, sf_dir),
        """SELECT ?c ?name ?o WHERE {
          ?c <c_name> ?name
          OPTIONAL { ?o <o_custkey> ?c ; <o_orderpriority> "1-URGENT" }
        }""",
    ).filter(F.col("o").isNull() | (F.col("o").cast("bigint") % 2 == 0))
    return out.select(
        F.col("c").alias("id"),
        F.col("name").alias("cust_name"),
        F.col("o").alias("urgent_order"),
    )


KG_FILTER_BOUND_ORACLE = """
SELECT CAST(c_custkey AS VARCHAR) AS id,
       c_name AS cust_name,
       CAST(o_orderkey AS VARCHAR) AS urgent_order
FROM customer LEFT JOIN orders
  ON o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
WHERE o_orderkey IS NULL OR o_orderkey % 2 = 0
"""


# ----------------------------------------- A21 end-to-end sync flow
def flow_full_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sync operators composed end-to-end (flows.py — main_flow.py's
    data path): full sync into a temp store in FK order, then the index
    documents built FROM THE LANDED STORE. Hash-equality with the
    source-built oracle proves the load+merge legs are lossless."""
    from prefect_flow_arc_kg_postgres_etl_spark.flows import sync_flow

    store = scratch_dir(spark, "flow_store_")
    sync_flow(
        spark,
        sf_dir,
        store,
        full_sync=True,
        build_index=False,
        tables=["region", "nation", "customer", "orders", "lineitem"],
    )
    return build_index_documents(spark, store, as_json=False)


# ------------------------------------------- A19 ES bulk feed (sink)
def es_bulk_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index sink's wire format: index_documents -> ES ``_bulk``
    NDJSON action/source pairs, partitionable per organisation
    (arc_db_load_index_tables_flow.py feeds graph.index_documents; this
    is the same feed rendered for the indexer)."""
    from prefect_flow_arc_kg_postgres_etl_spark.sinks.es_bulk import to_bulk_actions

    docs = build_index_documents(spark, sf_dir, as_json=True)
    return to_bulk_actions(docs)


ES_BULK_ORACLE = """
WITH order_agg AS (
  SELECT o_custkey,
         COUNT(*) AS order_count,
         ROUND(SUM(o_totalprice), 2) AS total_spend,
         STRING_AGG(CAST(o_orderkey AS VARCHAR), ',' ORDER BY CAST(o_orderkey AS VARCHAR)) AS order_keys
  FROM orders GROUP BY o_custkey
),
docs AS (
  SELECT c.c_custkey AS id,
         LOWER(n.n_name) AS index,
         '{"name":"' || c.c_name
         || '","segment":"' || c.c_mktsegment
         || '","nation":"' || n.n_name
         || '","region":"' || r.r_name
         || '","order_count":' || CAST(COALESCE(oa.order_count, 0) AS VARCHAR)
         || ',"total_spend":' || CAST(COALESCE(oa.total_spend, 0.0) AS VARCHAR)
         || ',"order_keys":"' || COALESCE(oa.order_keys, '') || '"}'
           AS document
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  LEFT JOIN order_agg oa ON oa.o_custkey = c.c_custkey
)
SELECT index,
       '{"index":{"_index":"' || index || '","_id":"' || CAST(id AS VARCHAR)
       || '"}}' || chr(10) || document AS bulk
FROM docs
"""


# --------------------------------- A18 construct: property paths
def kg_construct_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property paths: inverse (^o_custkey), sequence
    (o_custkey/c_nationkey, GRAPH-scoped — every hop of a path inside
    GRAPH g stays in g, per SPARQL), alternation (c_name|c_mktsegment)
    — the forms the reference queries use (person.sparql:57
    ``schema:license|(rel:isp/schema:license)``, person.sparql:79
    ``^schema:mentions``). The org-name lookup is scoped to graph:orgs
    (graph:staging carries a draft n_name copy that must not match)."""
    out = SQ.select_query(
        _kg_graph(spark, sf_dir),
        """SELECT ?o ?c ?nation ?label WHERE {
          ?c ^<o_custkey> ?o .
          ?o <o_orderpriority> "1-URGENT" .
          GRAPH <graph:entities> { ?o <o_custkey>/<c_nationkey> ?nk }
          GRAPH <graph:orgs> { ?nk <n_name> ?nation }
          ?c <c_name>|<c_mktsegment> ?label
        }""",
    )
    return out.select(
        F.col("o").alias("order_id"),
        F.col("c").alias("cust_id"),
        F.col("nation"),
        F.col("label"),
    )


KG_PATHS_ORACLE = """
WITH base AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
         CAST(c_custkey AS VARCHAR) AS cust_id,
         n_name AS nation, c_name, c_mktsegment
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE o_orderpriority = '1-URGENT'
)
SELECT order_id, cust_id, nation, c_name AS label FROM base
UNION ALL
SELECT order_id, cust_id, nation, c_mktsegment AS label FROM base
"""


# ---------------------------------------------------------- A4 coercion
def kg_value_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal coercion rules applied to synthesized literals derived
    deterministically from orders: ISO durations -> seconds, invalid
    timestamps -> NULL, missing booleans -> false. The oracle computes
    the expected values arithmetically — an independent check of the
    Spark-side regex/coercion pipeline."""
    orders = load_table(spark, sf_dir, "orders")
    lit_dur = F.concat(
        F.lit("P"),
        (F.col("o_orderkey") % 3).cast("string"),
        F.lit("DT"),
        (F.col("o_orderkey") % 7).cast("string"),
        F.lit("H"),
        (F.col("o_orderkey") % 60).cast("string"),
        F.lit("S"),
    )
    return orders.select(
        F.col("o_orderkey"),
        iso_duration_seconds(lit_dur).alias("duration_secs"),
        safe_timestamp(F.col("o_orderpriority")).alias("bad_ts"),
        bool_default_false(F.lit(None)).alias("flag"),
    )


KG_COERCION_ORACLE = """
SELECT o_orderkey,
       CAST((o_orderkey % 3) * 86400 + (o_orderkey % 7) * 3600
            + (o_orderkey % 60) AS DOUBLE) AS duration_secs,
       CAST(NULL AS TIMESTAMP) AS bad_ts,
       FALSE AS flag
FROM orders
"""


# ------------------------------------------------------------ A5 upsert
ORDER_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
]

_UPSERT_SPLIT = "1995-06-01"


def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderdate") < _UPSERT_SPLIT)
    src = (
        orders.filter(F.col("o_orderdate") >= "1995-01-01")
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .withColumn("o_orderstatus", F.lit("U"))
    )
    return M.upsert(base, src, keys=["o_orderkey"])


MERGE_UPSERT_ORACLE = f"""
WITH base AS (
  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '{_UPSERT_SPLIT} 00:00:00'
), src AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice * 1.1 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
)
SELECT {", ".join(ORDER_COLS)} FROM src
UNION ALL
SELECT {", ".join("b." + c for c in ORDER_COLS)} FROM base b
WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = b.o_orderkey)
"""


# --------------------------------------------------- A6 truncate+insert
def truncate_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-sync path: the staged source replaces the table wholesale."""
    orders = load_table(spark, sf_dir, "orders")
    staged = orders.filter(F.col("o_orderstatus") != "F")
    return M.truncate_insert(staged, ORDER_COLS)


TRUNCATE_INSERT_ORACLE = (
    f"SELECT {', '.join(ORDER_COLS)} FROM orders WHERE o_orderstatus <> 'F'"
)


LINEITEM_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
]


# --------------------------------------------------- A7 clear-and-insert
def clear_and_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    src = li.filter(
        (F.col("l_shipdate") >= "1995-05-01") & (F.col("l_shipdate") < "1995-06-01")
    ).withColumn("l_quantity", F.col("l_quantity") + 1.0)
    return M.clear_and_insert(li, src, group_key="l_orderkey")


CLEAR_INSERT_ORACLE = f"""
WITH src AS (
  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
         l_quantity + 1.0 AS l_quantity, l_extendedprice, l_discount,
         l_tax, l_returnflag, l_linestatus, l_shipdate
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-05-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1995-06-01 00:00:00'
)
SELECT {", ".join(LINEITEM_COLS)} FROM lineitem
WHERE l_orderkey NOT IN (SELECT DISTINCT l_orderkey FROM src)
UNION ALL
SELECT {", ".join(LINEITEM_COLS)} FROM src
"""


# --------------------------------------------------- A8 orphan cleanup
def orphan_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    parents = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 50000.0
    )
    return M.orphan_cleanup(li, parents, fk="l_orderkey", parent_key="o_orderkey")


ORPHAN_ORACLE = f"""
SELECT {", ".join(LINEITEM_COLS)} FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_totalprice > 50000.0
)
"""


# ------------------------------------------------ A9 delete processing
def delete_processing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arc_db_delete_flow: events whose value < 0.05 act as 'is_deleted'
    fragment flags against their user (entity); surviving customers are
    returned."""
    cust = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events").withColumn(
        "is_deleted", F.col("value") < 0.05
    )
    ents, _frags = M.delete_flagged(
        cust, events, entity_key="c_custkey", fragment_fk="user_id"
    )
    return ents


DELETE_ORACLE = """
SELECT * FROM customer
WHERE c_custkey NOT IN (
  SELECT DISTINCT user_id FROM events WHERE value < 0.05
)
"""


# --------------------------------- A9b empty-partition prune (deletes)
def empty_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arc_db_delete_flow.py:113-122: after delete processing, list the
    org partitions that no longer hold any record — those partitions
    get dropped. The record population here is the event-active
    customers (the entity set the delete flow touches; events whose
    value < 0.7 flag their user as deleted); a nation partition empties
    when every one of its event-active customers is flagged. Two
    semi/anti joins over pre-aggregated (tiny) key sets — all
    broadcast-sized at any corpus."""
    cust = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    active = events.select(F.col("user_id").alias("c_custkey")).distinct()
    flagged = (
        events.filter(F.col("value") < 0.7)
        .select(F.col("user_id").alias("c_custkey"))
        .distinct()
    )
    population = cust.join(active, "c_custkey", "left_semi")
    survivors = population.join(flagged, "c_custkey", "left_anti")
    nations = load_table(spark, sf_dir, "nation").select(
        F.lower(F.col("n_name")).alias("partition"), F.col("n_nationkey")
    )
    had_records = population.select("c_nationkey").distinct()
    live = survivors.select("c_nationkey").distinct()
    return (
        nations.join(had_records, nations.n_nationkey == had_records.c_nationkey, "left_semi")
        .join(live, nations.n_nationkey == live.c_nationkey, "left_anti")
        .select("partition")
    )


EMPTY_PARTITION_ORACLE = """
SELECT LOWER(n_name) AS partition
FROM nation
WHERE n_nationkey IN (
  SELECT DISTINCT c_nationkey FROM customer
  WHERE c_custkey IN (SELECT DISTINCT user_id FROM events))
AND n_nationkey NOT IN (
  SELECT DISTINCT c_nationkey FROM customer
  WHERE c_custkey IN (SELECT DISTINCT user_id FROM events)
    AND c_custkey NOT IN (SELECT DISTINCT user_id FROM events WHERE value < 0.7)
)
"""


# ---------------------------------------------- A10 incremental since
_SINCE = "2024-01-20 00:00:00"


def incremental_since(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SINCE-scoped incremental extract (configuration.ts SINCE; the
    sparql ?since filter). The timestamp filter is partition-prunable at
    scale (events laid out by date)."""
    events = load_table(spark, sf_dir, "events")
    return events.filter(F.col("ts") > _SINCE).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


SINCE_ORACLE = f"""
SELECT event_id, ts, user_id, event_type, value
FROM events WHERE ts > TIMESTAMP '{_SINCE}'
"""


# ---------------------------------------------- A11 partition stats
def partition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return partition_stats(
        orders, org_col="o_orderpriority", updated_col="o_orderdate",
        since="1995-01-01 00:00:00",
    )


PARTITION_STATS_ORACLE = """
SELECT o_orderpriority AS partition,
       COUNT(*) AS cnt,
       BOOL_OR(o_orderdate IS NOT NULL
               AND o_orderdate > TIMESTAMP '1995-01-01 00:00:00') AS is_updated
FROM orders GROUP BY 1
"""


# ---------------------------------------------- A12 index documents
def index_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_index_documents(spark, sf_dir, as_json=False)


INDEX_DOC_ORACLE = """
WITH order_agg AS (
  SELECT o_custkey,
         COUNT(*) AS order_count,
         ROUND(SUM(o_totalprice), 2) AS total_spend,
         MAX(o_orderdate) AS last_order_date,
         STRING_AGG(CAST(o_orderkey AS VARCHAR), ',' ORDER BY CAST(o_orderkey AS VARCHAR)) AS order_keys,
         (ARRAY_AGG(o_orderpriority ORDER BY
            CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2 ELSE 3 END,
            o_orderpriority))[1] AS preferred_priority,
         MAX(o_totalprice) AS max_order_total,
         LIST_SORT(LIST(DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS INT))) AS order_years
  FROM orders GROUP BY o_custkey
),
prio_counts AS (
  SELECT o_custkey, ARRAY_TO_STRING(LIST_SORT(LIST(p_cnt)), ',') AS priority_counts
  FROM (
    SELECT o_custkey, o_orderpriority || ':' || COUNT(*) AS p_cnt
    FROM orders GROUP BY o_custkey, o_orderpriority
  ) GROUP BY o_custkey
),
li_leg AS (
  SELECT o_custkey,
         MAX(l_extendedprice) AS max_line_price,
         LIST_SORT(LIST(DISTINCT CAST(EXTRACT(year FROM l_shipdate) AS INT))) AS ship_years
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey
)
SELECT c.c_custkey AS id,
       LOWER(n.n_name) AS index,
       c.c_name AS name,
       c.c_mktsegment AS segment,
       n.n_name AS nation,
       r.r_name AS region,
       '{"schema_identifier":"' || LOWER(n.n_name) || '","schema_name":"' || n.n_name
         || '","organization_sector":"' || r.r_name || '"}' AS maintainer,
       COALESCE(oa.order_count, 0) AS order_count,
       COALESCE(oa.total_spend, 0.0) AS total_spend,
       oa.last_order_date,
       COALESCE(oa.order_keys, '') AS order_keys,
       oa.preferred_priority,
       COALESCE(pc.priority_counts, '') AS priority_counts,
       ROUND(GREATEST(COALESCE(oa.max_order_total, 0.0),
                      COALESCE(ll.max_line_price, 0.0)), 2) AS max_item_price,
       COALESCE(ARRAY_TO_STRING(LIST_TRANSFORM(
         LIST_SORT(LIST_DISTINCT(
           COALESCE(oa.order_years, []) || COALESCE(ll.ship_years, []))),
         y -> CAST(y AS VARCHAR)), ','), '')
         AS active_years
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
LEFT JOIN order_agg oa ON oa.o_custkey = c.c_custkey
LEFT JOIN prio_counts pc ON pc.o_custkey = c.c_custkey
LEFT JOIN li_leg ll ON ll.o_custkey = c.c_custkey
"""


# ---------------------------------------------- A13 fk merge order
TPCH_FK_GRAPH: dict[str, set[str]] = {
    "region": set(),
    "nation": {"region"},
    "part": set(),
    "supplier": {"nation"},
    "customer": {"nation"},
    "orders": {"customer"},
    "lineitem": {"orders", "part", "supplier"},
}


def fk_merge_order_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    levels = M.fk_merge_order(TPCH_FK_GRAPH)
    rows = [
        (table, lvl) for lvl, tables in enumerate(levels) for table in tables
    ]
    return spark.createDataFrame(rows, "table_name string, level int")


FK_ORDER_ORACLE = """
SELECT * FROM (VALUES
  ('part', 0), ('region', 0),
  ('nation', 1),
  ('customer', 2), ('supplier', 2),
  ('orders', 3),
  ('lineitem', 4)
) AS t(table_name, level)
"""


# ---------------------------------------------- A16 table intersection
# The "target schema": tables the load destination knows about, incl.
# two that the source catalog does NOT ship (they must drop out) —
# mirrors getIntersectingTables against a live information_schema.
_TARGET_SCHEMA = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "index_documents", "schema_migrations",
]


def table_intersection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import (
        discover_tables,
        table_intersection,
    )

    names = table_intersection(discover_tables(sf_dir), _TARGET_SCHEMA)
    return spark.createDataFrame([(n,) for n in names], "table_name string")


TABLE_INTERSECTION_ORACLE = f"""
SELECT table_name FROM (VALUES
  {", ".join(f"('{t}')" for t in sorted(_TARGET_SCHEMA))}
) AS t(table_name)
WHERE table_name IN (
  'region','nation','customer','supplier','part','orders','lineitem',
  'events','documents','embeddings'
)
"""


# ---------------------------------------------- A14 org scoping
_OR_IDS = ["NATION_3", "NATION_7", "NATION_12"]


def org_scope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR_IDS scoping (configuration.ts OR_IDS): restrict the pipeline
    to a set of organisations — broadcast semi-join on the org dim."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(_OR_IDS))
    return cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey, "left_semi"
    )


ORG_SCOPE_ORACLE = f"""
SELECT * FROM customer WHERE c_nationkey IN (
  SELECT n_nationkey FROM nation
  WHERE n_name IN ({", ".join(repr(x) for x in _OR_IDS)})
)
"""


# ---------------------------------------------- A15 batch staging
_BATCH_SIZE = 100


def batch_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record batching (stream.ts:120-160 RecordBatcher): records routed
    per target table, grouped into deterministic bounded-size batches.
    The reference only needs batch ids that are deterministic and
    bounded — NOT a global dense numbering — so the id is a uniform
    hash bucket: ``batch_id = H(record_id) mod ceil(n/BATCH)``.

    Scale shape: a per-table ``row_number`` window would funnel every
    record of a table through ONE reducer (a global per-table sort); the
    hash rule needs only a tiny per-table count agg (map-side combine)
    broadcast back — the batch assignment itself is scan-side, no
    shuffle of the records at all. The hash is md5-prefix (not
    xxhash64) because both engines must compute it identically for the
    oracle."""
    cust = T.to_table_triples(
        load_table(spark, sf_dir, "customer"), "graph.customer", "c_custkey"
    ).select("table_name", "record_id")
    orders = T.to_table_triples(
        load_table(spark, sf_dir, "orders"), "graph.orders", "o_orderkey"
    ).select("table_name", "record_id")
    records = cust.unionByName(orders)
    n_batches = records.groupBy("table_name").agg(
        F.ceil(F.count("*") / F.lit(_BATCH_SIZE)).cast("bigint").alias("n_batches")
    )
    bucket_hash = F.conv(
        F.substring(F.md5(F.col("record_id")), 1, 8), 16, 10
    ).cast("bigint")
    return (
        records.join(F.broadcast(n_batches), "table_name")
        .withColumn("batch_id", (bucket_hash % F.col("n_batches")).cast("bigint"))
        .select("table_name", "record_id", "batch_id")
    )


BATCH_STAGE_ORACLE = f"""
WITH records AS (
  SELECT 'graph.customer' AS table_name, CAST(c_custkey AS VARCHAR) AS record_id
  FROM customer
  UNION ALL
  SELECT 'graph.orders', CAST(o_orderkey AS VARCHAR) FROM orders
),
counted AS (
  SELECT table_name, record_id,
         CAST(CEIL(COUNT(*) OVER (PARTITION BY table_name) * 1.0 / {_BATCH_SIZE})
              AS BIGINT) AS n_batches
  FROM records
)
SELECT table_name, record_id,
       CAST(('0x' || substring(md5(record_id), 1, 8))::UBIGINT % n_batches
            AS BIGINT) AS batch_id
FROM counted
"""


# ------------------------------------- A25 N-Triples round trip (RDF IO)
def kg_nt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF interchange: melt customer to quads, serialize to N-Triples
    lines (sources/rdf.to_ntriples), parse the lines back
    (parse_ntriples) — the identity on the triple model, which the melt
    oracle checks. This is the engine's bulk path for the reference's
    native data format (its CONSTRUCT queries emit RDF triple streams —
    queries/*.sparql, stream.ts): a splittable text dump in, quads out,
    all scan-side JVM string expressions."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources import rdf

    cust = load_table(spark, sf_dir, "customer")
    triples = T.melt(cust, "c_custkey", CUSTOMER_COLS, subject_prefix="customer:")
    lines = rdf.to_ntriples(triples)
    return rdf.parse_ntriples(lines).select("subject", "predicate", "object")


KG_NT_ROUNDTRIP_ORACLE = KG_MELT_ORACLE


# ------------------------------------- A79 Turtle round trip (RDF IO)
def source_ttl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turtle interchange: the reference's view-construct step saves
    the materialized graph as prefixed Turtle before import
    (1_kg_view_construct.ts:66-80, graph.ttl.gz). Melt customer to
    quads, serialize to subject-grouped Turtle blocks (prefix table,
    ';'/',' abbreviations, per-part-file @prefix headers), land as
    text, parse back with the whole-file tokenizer
    (sources/turtle.py) — the identity on the triple model, which the
    melt oracle checks."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources import rdf, turtle

    cust = load_table(spark, sf_dir, "customer")
    triples = T.melt(cust, "c_custkey", CUSTOMER_COLS, subject_prefix="customer:")
    out = scratch_dir(spark, "ttl_rt_") + "/graph"
    turtle.write_turtle(
        triples,
        out,
        prefixes={"s": rdf.SUBJECT_BASE, "p": rdf.PREDICATE_BASE},
    )
    return turtle.read_turtle(spark, out).select(
        "subject", "predicate", "object"
    )


SOURCE_TTL_ROUNDTRIP_ORACLE = KG_MELT_ORACLE


# --------------------------------- A26 CSV bulk source/sink round trip
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk text interchange: the customer table lands as quoted CSV
    (splittable text) and reads back with the catalog schema — value-
    exact including doubles (full-precision serialization) and comment
    strings with embedded delimiters. The identity on the table is the
    oracle (sources/text_formats.py; NDJSON twin tested in
    tests/test_text_formats.py)."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources import text_formats

    cust = load_table(spark, sf_dir, "customer")
    out = scratch_dir(spark, "csv_rt_") + "/customer"
    text_formats.write_csv(cust, out)
    return text_formats.read_csv(spark, out, cust.schema)


SOURCE_CSV_ROUNDTRIP_ORACLE = "SELECT * FROM customer"


# ------------------------------------- A27 SCD2 history-preserving merge
def merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal upsert (slowly-changing-dimension type 2): the same
    update batch merge_upsert applies, but superseded versions are
    CLOSED (valid_to := effective date) instead of overwritten and the
    updated rows insert as the new current versions — the
    history-retaining form of the reference's MERGE + updated_at
    tracking (database.ts:214-222). One shuffle on the PK
    (operators/merge.scd2_upsert)."""
    orders = load_table(spark, sf_dir, "orders")
    ts_type = dict(orders.dtypes)["o_orderdate"]
    base_cols = [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    ]
    target = orders.select(
        *base_cols,
        F.col("o_orderdate").alias("valid_from"),
        F.lit(None).cast(ts_type).alias("valid_to"),
    )
    src = (
        orders.filter(F.col("o_orderdate") >= "1996-01-01")
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .withColumn("o_orderstatus", F.lit("U"))
        .select(
            *base_cols,
            F.lit("1997-01-01 00:00:00").cast(ts_type).alias("valid_from"),
        )
    )
    return M.scd2_upsert(target, src, keys=["o_orderkey"])


MERGE_SCD2_ORACLE = """
WITH target AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
         o_orderdate AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
  FROM orders
), src AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice * 1.1 AS o_totalprice, o_orderpriority,
         TIMESTAMP '1997-01-01 00:00:00' AS valid_from
  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
)
SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, t.o_totalprice,
       t.o_orderpriority, t.valid_from,
       -- the close clamps to valid_from (operators/merge.scd2_upsert):
       -- a staged effective at-or-before the current version's start
       -- must not emit an inverted interval
       CASE WHEN t.valid_to IS NULL AND s.o_orderkey IS NOT NULL
            THEN GREATEST(s.valid_from, t.valid_from)
            ELSE t.valid_to END AS valid_to
FROM target t LEFT JOIN src s USING (o_orderkey)
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
       valid_from, CAST(NULL AS TIMESTAMP)
FROM src
"""


# ----------------------------------------- A28 transitive property path
def _hierarchy_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The store's containment hierarchy as a typed (child, parent)
    edge relation — order -> customer -> nation -> region. Shared by
    the p+ and p* path entries so the two closures can never diverge
    over different edge sets."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    tag = lambda p, c: F.concat(F.lit(p), F.col(c).cast("string"))  # noqa: E731
    return (
        orders.select(
            tag("O", "o_orderkey").alias("child"),
            tag("C", "o_custkey").alias("parent"),
        )
        .unionByName(
            cust.select(
                tag("C", "c_custkey").alias("child"),
                tag("N", "c_nationkey").alias("parent"),
            )
        )
        .unionByName(
            nat.select(
                tag("N", "n_nationkey").alias("child"),
                tag("R", "n_regionkey").alias("parent"),
            )
        )
    )


def kg_path_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ``p+`` over the store's containment hierarchy
    (order -> customer -> nation -> region, as a typed edge relation):
    every entity paired with ALL its ancestors, any number of hops up.
    The reference's queries use no transitive paths (verified across
    typescript/queries/*.sparql), so this completes the path algebra
    beyond the reference surface rather than mirroring a query.

    Pointer doubling (operators/triples.transitive_closure): the
    hierarchy depth (3 hops) is catalog metadata, so ``known_depth``
    runs exactly ceil(log2(3)) = 2 doubling joins with no convergence
    counts; at 100 TB each iteration is one keyed self-join shuffle of
    the PAIR set, never a corpus re-scan.

    The doubling joins and distincts key on BIGINT node ids (type tag
    in the low 2 bits: O=0 C=1 N=2 R=3, id = key*4 + tag) instead of
    the 'O<key>' label strings — narrower shuffle keys and cheaper
    hash/compare at every exchange (guide §2.3), the same bit-coding
    pagerank uses. Labels rebuild only on the final output, which the
    string-keyed oracle reproduces exactly. Measured 2.23 -> 1.98 /
    1.90 -> 1.69 s warm at sf0.1 (interleaved A/B, noop sink)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")

    def enc(c: str, tag: int):
        return F.col(c).cast("long") * 4 + tag

    edges = (
        orders.select(
            enc("o_orderkey", 0).alias("child"),
            enc("o_custkey", 1).alias("parent"),
        )
        .unionByName(
            cust.select(
                enc("c_custkey", 1).alias("child"),
                enc("c_nationkey", 2).alias("parent"),
            )
        )
        .unionByName(
            nat.select(
                enc("n_nationkey", 2).alias("child"),
                enc("n_regionkey", 3).alias("parent"),
            )
        )
    )
    closure = T.transitive_closure(edges, known_depth=3)

    def dec(c: str):
        return F.concat(
            F.element_at(
                F.lit(["O", "C", "N", "R"]), (F.col(c) % 4 + 1).cast("int")
            ),
            F.expr(f"{c} div 4").cast("string"),
        )

    return closure.select(
        dec("node").alias("node"), dec("ancestor").alias("ancestor")
    )


KG_PATH_TRANSITIVE_ORACLE = """
WITH RECURSIVE edges AS (
  SELECT 'O' || CAST(o_orderkey AS VARCHAR) AS child,
         'C' || CAST(o_custkey AS VARCHAR) AS parent
  FROM orders
  UNION ALL
  SELECT 'C' || CAST(c_custkey AS VARCHAR),
         'N' || CAST(c_nationkey AS VARCHAR)
  FROM customer
  UNION ALL
  SELECT 'N' || CAST(n_nationkey AS VARCHAR),
         'R' || CAST(n_regionkey AS VARCHAR)
  FROM nation
), closure AS (
  SELECT child AS node, parent AS ancestor FROM edges
  UNION
  SELECT c.node, e.parent
  FROM closure c JOIN edges e ON c.ancestor = e.child
)
SELECT node, ancestor FROM closure
"""


# ----------------------------------------- A29 snapshot diff (CDC)
def table_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: classify every key as added / removed / changed
    between two table versions — the change-data-capture step a
    sync pipeline runs when the source cannot stream deltas (the
    reference's incremental path assumes dcterms/modified exists;
    diffing is the fallback when it does not).

    ONE full-outer join on the PK (single shuffle each side), change
    detection on a content hash computed SCAN-SIDE (md5 of the
    concatenated row image) so the join carries two narrow columns per
    side, not the whole row width — at 100 TB the shuffle moves
    (key, 32-byte hash), never the payload. Unchanged rows are dropped
    BEFORE any downstream work. The 'new' snapshot here is the orders
    table with a deterministic mutation set (same recipe in the
    oracle): every 7th order re-priced (changed), every 13th dropped
    (removed), and a +10M-key echo of every 11th added."""
    orders = load_table(spark, sf_dir, "orders")
    old = orders
    new = (
        orders.filter(F.col("o_orderkey") % 13 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0,
                F.round(F.col("o_totalprice") * 1.05, 2),
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 11 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10_000_000
            )
        )
    )

    def keyed(df: DataFrame, side: str) -> DataFrame:
        img = F.md5(
            F.concat_ws(
                "|",
                F.col("o_custkey").cast("string"),
                F.col("o_orderstatus"),
                F.format_number(F.col("o_totalprice"), 2),
                F.col("o_orderdate").cast("string"),
                F.col("o_orderpriority"),
            )
        )
        return df.select(
            F.col("o_orderkey").alias(f"{side}_key"), img.alias(f"{side}_img")
        )

    o = keyed(old, "old")
    n = keyed(new, "new")
    joined = o.join(n, o.old_key == n.new_key, "full_outer")
    return (
        joined.select(
            F.coalesce("old_key", "new_key").alias("o_orderkey"),
            F.when(F.col("old_key").isNull(), "added")
            .when(F.col("new_key").isNull(), "removed")
            .when(F.col("old_img") != F.col("new_img"), "changed")
            .alias("change"),
        )
        .filter(F.col("change").isNotNull())
    )


TABLE_DIFF_ORACLE = """
WITH old AS (
  SELECT o_orderkey,
         md5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
             format('{:.2f}', o_totalprice) || '|' ||
             strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '|' ||
             o_orderpriority) AS img
  FROM orders
), new AS (
  SELECT o_orderkey,
         md5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
             format('{:.2f}', CASE WHEN o_orderkey % 7 = 0
                                    THEN ROUND(o_totalprice * 1.05, 2)
                                    ELSE o_totalprice END) || '|' ||
             strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '|' ||
             o_orderpriority) AS img
  FROM orders WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000,
         md5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
             format('{:.2f}', o_totalprice) || '|' ||
             strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '|' ||
             o_orderpriority)
  FROM orders WHERE o_orderkey % 11 = 0
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            WHEN o.img <> n.img THEN 'changed' END AS change
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE CASE WHEN o.o_orderkey IS NULL THEN 'added'
           WHEN n.o_orderkey IS NULL THEN 'removed'
           WHEN o.img <> n.img THEN 'changed' END IS NOT NULL
"""


# ----------------------------------------- A30 ORC columnar round trip
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-interchange parity beyond parquet: the customer table
    lands as ORC (Spark's second built-in columnar format — splittable,
    predicate-pushdown-capable, the common interchange with Hive/Trino
    estates) and reads back value-exact with the catalog schema. Same
    identity oracle as the CSV/NDJSON round trips; the format-specific
    risk this pins is type fidelity (decimal/timestamp/double widths),
    not parsing."""
    cust = load_table(spark, sf_dir, "customer")
    out = scratch_dir(spark, "orc_rt_") + "/customer"
    cust.write.mode("overwrite").orc(out)
    return spark.read.schema(cust.schema).orc(out)


SOURCE_ORC_ROUNDTRIP_ORACLE = "SELECT * FROM customer"


# ------------------------------- A31 stats-driven partition refresh
_REFRESH_SINCE = "1996-07-01 00:00:00"


def index_partition_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance, the way the reference actually
    runs it (arc_db_load_index_tables_flow.py): per-partition stats
    decide WHICH org partitions repopulate; untouched partitions keep
    their previous documents. Modeled end-to-end: the 'previous' index
    state is the aggregate over orders known at ``since``; partitions
    (nations, the org dimension) with any later order rebuild from the
    full data, every other partition passes through unchanged.

    Scale shape: the changed-org set is a tiny distinct (broadcast);
    BOTH aggregation legs filter BEFORE aggregating — the rebuild leg
    scans only changed-partition customers, the keep leg only the
    pre-since slice — so the refresh cost tracks the changed fraction,
    not the index size. The reduced document here carries the order
    aggregates only: the full ~15-way document build is A12's entry;
    this one pins the partition-pruned refresh SEMANTICS."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    with_org = cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
    ).select("c_custkey", F.col("n_name").alias("org"))

    changed_orgs = (
        orders.filter(F.col("o_orderdate") > _REFRESH_SINCE)
        .join(with_org, orders.o_custkey == with_org.c_custkey)
        .select("org")
        .distinct()
    )

    def doc_agg(o: DataFrame, members: DataFrame, state: str) -> DataFrame:
        agg = o.groupBy("o_custkey").agg(
            F.count("*").cast("bigint").alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.max("o_orderdate").alias("last_order_date"),
        )
        return members.join(
            agg, members.c_custkey == agg.o_custkey, "left"
        ).select(
            "c_custkey",
            "org",
            F.coalesce("order_count", F.lit(0)).alias("order_count"),
            F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
            "last_order_date",
            F.lit(state).alias("state"),
        )

    changed_members = with_org.join(F.broadcast(changed_orgs), "org", "left_semi")
    kept_members = with_org.join(F.broadcast(changed_orgs), "org", "left_anti")
    rebuilt = doc_agg(
        orders.join(
            changed_members.select("c_custkey"),
            orders.o_custkey == F.col("c_custkey"),
            "left_semi",
        ),
        changed_members,
        "refreshed",
    )
    kept = doc_agg(
        orders.filter(F.col("o_orderdate") <= _REFRESH_SINCE).join(
            kept_members.select("c_custkey"),
            orders.o_custkey == F.col("c_custkey"),
            "left_semi",
        ),
        kept_members,
        "kept",
    )
    return rebuilt.unionByName(kept)


INDEX_REFRESH_ORACLE = f"""
WITH with_org AS (
  SELECT c_custkey, n_name AS org
  FROM customer JOIN nation ON c_nationkey = n_nationkey
), changed AS (
  SELECT DISTINCT org
  FROM orders JOIN with_org ON o_custkey = c_custkey
  WHERE o_orderdate > TIMESTAMP '{_REFRESH_SINCE}'
), rebuilt AS (
  SELECT w.c_custkey, w.org,
         CAST(COALESCE(COUNT(o.o_orderkey), 0) AS BIGINT) AS order_count,
         COALESCE(ROUND(SUM(o.o_totalprice), 2), 0.0) AS total_spend,
         MAX(o.o_orderdate) AS last_order_date,
         'refreshed' AS state
  FROM with_org w
  LEFT JOIN orders o ON o.o_custkey = w.c_custkey
  WHERE w.org IN (SELECT org FROM changed)
  GROUP BY 1, 2
), kept AS (
  SELECT w.c_custkey, w.org,
         CAST(COALESCE(COUNT(o.o_orderkey), 0) AS BIGINT) AS order_count,
         COALESCE(ROUND(SUM(o.o_totalprice), 2), 0.0) AS total_spend,
         MAX(o.o_orderdate) AS last_order_date,
         'kept' AS state
  FROM with_org w
  LEFT JOIN orders o ON o.o_custkey = w.c_custkey
       AND o.o_orderdate <= TIMESTAMP '{_REFRESH_SINCE}'
  WHERE w.org NOT IN (SELECT org FROM changed)
  GROUP BY 1, 2
)
SELECT * FROM rebuilt UNION ALL SELECT * FROM kept
"""


# ------------------------------------- A28b zero-or-more property path
def kg_path_zero_or_more(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ``p*``: the reflexive-transitive closure — ``p+`` plus
    the identity pair for every node of the graph (subjects and
    objects both; SPARQL's p* matches every term in the graph to
    itself). One distinct over the union of the two edge endpoints
    computes the node universe; the closure and the edge derivation
    are A28's, shared (_hierarchy_edges), so p+ and p* cannot diverge."""
    edges = _hierarchy_edges(spark, sf_dir)
    plus = T.transitive_closure(edges, known_depth=3)
    nodes = (
        edges.select(F.col("child").alias("node"))
        .unionByName(edges.select(F.col("parent").alias("node")))
        .distinct()
    )
    return plus.unionByName(
        nodes.select("node", F.col("node").alias("ancestor"))
    )


KG_PATH_ZERO_OR_MORE_ORACLE = """
WITH RECURSIVE edges AS (
  SELECT 'O' || CAST(o_orderkey AS VARCHAR) AS child,
         'C' || CAST(o_custkey AS VARCHAR) AS parent
  FROM orders
  UNION ALL
  SELECT 'C' || CAST(c_custkey AS VARCHAR),
         'N' || CAST(c_nationkey AS VARCHAR)
  FROM customer
  UNION ALL
  SELECT 'N' || CAST(n_nationkey AS VARCHAR),
         'R' || CAST(n_regionkey AS VARCHAR)
  FROM nation
), closure AS (
  SELECT child AS node, parent AS ancestor FROM edges
  UNION
  SELECT c.node, e.parent
  FROM closure c JOIN edges e ON c.ancestor = e.child
), nodes AS (
  SELECT DISTINCT node FROM (
    SELECT child AS node FROM edges
    UNION ALL
    SELECT parent FROM edges
  )
)
SELECT node, ancestor FROM closure
UNION ALL
SELECT node, node AS ancestor FROM nodes
"""


# ------------------------------- A32 schema-evolution read
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet file generations: generation 1
    lands without the account-balance column, generation 2 adds it;
    ``mergeSchema`` unifies the footprints at read time and the missing
    column back-fills NULL for gen-1 rows — the append-only schema
    drift every long-lived 100 TB dataset accumulates. (Schema
    merging is a footer-level union; the data pages are untouched, so
    the read cost is per-FILE footer metadata, not a rewrite.)"""
    cust = load_table(spark, sf_dir, "customer")
    out = scratch_dir(spark, "schema_evo_") + "/customer"
    gen1 = cust.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    gen2 = cust.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    gen1.write.mode("overwrite").parquet(f"{out}/gen=1")
    gen2.write.mode("overwrite").parquet(f"{out}/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/gen=1", f"{out}/gen=2"
    )
    return merged.select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"
    )


SCHEMA_EVOLUTION_ORACLE = """
SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
       CASE WHEN c_custkey % 2 = 1 THEN c_acctbal END AS c_acctbal
FROM customer
"""


# ------------------------------- A33 small-files compaction
def maintenance_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-sink maintenance pass end-to-end: a deliberately
    fragmented landing (64 micro-batch-sized files of the customer
    table) compacts to ceil(bytes/target) files via one round-robin
    shuffle; sizing reads FILE METADATA only. Content is untouched —
    the identity oracle — and the post-compaction file count contract
    is pinned in tests/test_sinks.py."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources.store import compact_files

    cust = load_table(spark, sf_dir, "customer")
    root = scratch_dir(spark, "compact_")
    frag = f"{root}/fragmented"
    cust.repartition(64).write.mode("overwrite").parquet(frag)
    return compact_files(
        spark, frag, f"{root}/compacted", target_file_bytes=4 * 1024 * 1024
    ).select(*cust.columns)


MAINTENANCE_COMPACTION_ORACLE = "SELECT * FROM customer"


# ------------------------------------ A34 summary-delta agg maintenance
_AGG_SPLIT = "1999-01-01 00:00:00"


def agg_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a per-customer order aggregate by
    SUMMARY-DELTA merge (operators/merge.merge_agg_state): the
    maintained state (orders before the split, already aggregated)
    absorbs the delta (orders since the split) WITHOUT re-scanning the
    base fact — the same incremental contract as the reference's SINCE
    path (configuration.ts SINCE), applied to aggregate state instead
    of row state. avg reconstructs from the merged (sum, n) partials,
    proving the algebraic-aggregate story. The oracle is the full
    recompute over the whole orders table — refresh must be exact.

    Money sums in CENTS (bigint): integer partials are exact and
    order-independent, so state+delta merge == full recompute
    bit-for-bit — where double sums differ in the last ulp between
    summation orders and a derived avg can land on opposite sides of
    a rounding boundary (seen in-session: total/8 hitting x.xx125
    exactly). avg uses integer floor division for the same reason."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.filter(F.col("o_orderdate") < _AGG_SPLIT)
    delta = orders.filter(F.col("o_orderdate") >= _AGG_SPLIT).select(
        "o_custkey", cents.alias("spend_cents")
    )
    state = base.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("spend_cents"),
    )
    merged = M.merge_agg_state(
        state, delta, keys=["o_custkey"], sum_cols=["spend_cents"]
    )
    return merged.select(
        "o_custkey",
        F.col("n").alias("n_orders"),
        (F.col("spend_cents") / 100.0).alias("total_spend"),
        F.expr("(spend_cents * 10000) div (n * 100)").alias("avg_spend_e4"),
    )


AGG_REFRESH_ORACLE = """
SELECT o_custkey,
       COUNT(*) AS n_orders,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_spend,
       CAST((SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) * 10000)
            // (COUNT(*) * 100) AS BIGINT) AS avg_spend_e4
FROM orders
GROUP BY o_custkey
"""


# ------------------------------------- A35 bucketed co-located join
# (tag, temp_root) of bucketed landings not yet reclaimed — the next
# invocation drops landings older than the immediately previous call
# (deferred-by-one: the builder contract is a SEQUENTIAL
# build-then-consume cadence, so at most one prior lazy result is
# outstanding; callers juggling several unconsumed results across
# threads must consume before re-invoking). The lock serializes the
# list mutation + reclamation so interleaved calls can't double-drop.
import threading as _threading

_BUCKETED_LANDINGS: list[tuple[str, str]] = []
_BUCKETED_LOCK = _threading.Lock()


def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-to-fact join via BUCKETED storage layout: both
    orders and lineitem land bucketed (and sorted) by the join key, so
    the join — AND the per-order aggregation after it, which shares
    the key — consume the on-disk partitioning with ZERO exchanges
    (plan-audited in tests/test_plan_audit.py). This is the storage
    answer to the one shuffle the upsert/star-join plans still pay:
    when two 100 TB facts join on the same key every day, bucketing
    moves that shuffle from every query into the single landing write
    (which itself needs no exchange — each writer task splits its rows
    across bucket files locally).

    Spark's native (non-Hive) catalog handles bucketed parquet tables.
    Each call lands EXTERNAL tables in a fresh scratch dir: catalog
    metadata is per-session while managed-table directories persist,
    so a managed DROP+rewrite collides across sessions
    (LOCATION_ALREADY_EXISTS — hit in-session). The
    oracle is the plain join+agg — layout must never change results."""
    import os
    import shutil

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    # Per-call unique table names (from the temp-dir suffix): fixed
    # session-global names let two concurrent invocations clobber each
    # other's tables mid-query (ADVICE r5). Reclamation is DEFERRED BY
    # ONE CALL: only landings older than the immediately previous call
    # are dropped, so the previous call's still-lazy result (the
    # builder contract returns a DataFrame whose scan resolves the
    # catalog entry at action time) keeps its tables through the
    # build-then-consume cadence; dropping at return is not an option
    # for the same reason. A crash after scratch_dir leaves the entry in
    # the list and the call after next reclaims it (DROP IF EXISTS
    # tolerates tables that were never created).
    root = scratch_dir(spark, "bucketed_")
    tag = os.path.basename(root).removeprefix("bucketed_").lower()
    with _BUCKETED_LOCK:
        while len(_BUCKETED_LANDINGS) > 1:
            prior_tag, prior_root = _BUCKETED_LANDINGS.pop(0)
            spark.sql(f"DROP TABLE IF EXISTS b_orders_{prior_tag}")
            spark.sql(f"DROP TABLE IF EXISTS b_lineitem_{prior_tag}")
            shutil.rmtree(prior_root, ignore_errors=True)
        _BUCKETED_LANDINGS.append((tag, root))
    for name, df, key in (
        (f"b_orders_{tag}", orders, "o_orderkey"),
        (f"b_lineitem_{tag}", li, "l_orderkey"),
    ):
        (
            df.write.bucketBy(16, key)
            .sortBy(key)
            .option("path", f"{root}/{name}")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name)
        )
    bo = spark.table(f"b_orders_{tag}")
    bl = spark.table(f"b_lineitem_{tag}")
    # Exact e4-unit revenue: price and discount are 2-decimal values, so
    # per-line revenue is an exact 4-decimal number — a double ROUND(x, 2)
    # then sits exactly on .xx5 half-way points where Spark (HALF_UP on
    # the shortest decimal repr) and DuckDB (round on the binary double)
    # systematically disagree (hit in-session). Integer arithmetic has no
    # rounding step at all.
    rev_e4 = F.round(F.col("l_extendedprice") * 100).cast("long") * F.round(
        (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.first("o_totalprice").alias("o_totalprice"),
            (F.sum(rev_e4) / 10000.0).alias("lineitem_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


BUCKETED_JOIN_ORACLE = """
SELECT o_orderkey,
       MIN(o_totalprice) AS o_totalprice,
       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
           * CAST(ROUND((1 - l_discount) * 100) AS BIGINT)) / 10000.0
         AS lineitem_revenue,
       COUNT(*) AS n_lines
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderkey
"""


# --------------------------------------------- A36 skew-salted join
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (operators/merge.salted_join): the fact side's
    key gets a deterministic hash-salt component and the dim side is
    replicated salt-ways, splitting one pathological hot key across
    ``salt`` even partitions. AQE's skew-join splitter handles most
    skew at runtime; explicit salting is for the key it can't split (a
    single key bigger than a partition — one user producing a billion
    events). Salting must never change RESULTS — the oracle is the
    plain join, and the outer-mode guard (replication would duplicate
    unmatched dim rows) is unit-tested."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    return M.salted_join(ev, cust, "user_id", salt=8)


SKEW_SALTED_ORACLE = """
SELECT user_id, event_id, event_type, value, c_name, c_mktsegment
FROM events JOIN customer ON user_id = c_custkey
"""


# ----------------------------------- A37/A38 SPARQL DESCRIBE and ASK
def kg_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE: every triple about the resources a pattern
    matches — with CONSTRUCT (A3/A17/A22-24), SELECT-shaped views and
    ASK below, this completes the SPARQL query-form surface. The match
    (customers in the BUILDING segment) produces a subject set; the
    description is a LEFT SEMI join of the triple store on subject —
    one keyed shuffle (or a broadcast when the matched set is small),
    never a collect of the subject list to the driver."""
    cust = load_table(spark, sf_dir, "customer")
    triples = T.melt(
        cust, "c_custkey", CUSTOMER_COLS, subject_prefix="customer:"
    )
    subjects = triples.filter(
        (F.col("predicate") == "c_mktsegment")
        & (F.col("object") == "BUILDING")
    ).select("subject")
    return (
        triples.join(subjects, "subject", "left_semi")
        .select("subject", "predicate", "object")
    )


KG_DESCRIBE_ORACLE = f"""
WITH melted AS ({KG_MELT_ORACLE})
SELECT subject, predicate, object FROM melted
WHERE subject IN (SELECT subject FROM melted
                  WHERE predicate = 'c_mktsegment' AND object = 'BUILDING')
"""


def kg_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ASK: existence of a pattern match, nothing else. Each ask
    evaluates over a LIMIT-1 subplan — CollectLimit stops the scan at
    the first matching row, so a true ASK touches one row-group's worth
    of data, not the store (the count aggregates the at-most-one
    surviving row into the boolean). Two asks — one satisfiable, one
    not — pin both outcomes."""
    cust = load_table(spark, sf_dir, "customer")
    triples = T.melt(
        cust, "c_custkey", CUSTOMER_COLS, subject_prefix="customer:"
    )

    def ask(name: str, cond) -> DataFrame:
        return (
            triples.filter(cond)
            .limit(1)
            .agg((F.count(F.lit(1)) > 0).alias("ask"))
            .select(F.lit(name).alias("pattern"), "ask")
        )

    yes = ask(
        "building_segment_exists",
        (F.col("predicate") == "c_mktsegment") & (F.col("object") == "BUILDING"),
    )
    no = ask(
        "phantom_segment_exists",
        (F.col("predicate") == "c_mktsegment") & (F.col("object") == "PHANTOM"),
    )
    return yes.unionByName(no)


KG_ASK_ORACLE = f"""
WITH melted AS ({KG_MELT_ORACLE})
SELECT 'building_segment_exists' AS pattern,
       EXISTS(SELECT 1 FROM melted
              WHERE predicate = 'c_mktsegment' AND object = 'BUILDING') AS ask
UNION ALL
SELECT 'phantom_segment_exists',
       EXISTS(SELECT 1 FROM melted
              WHERE predicate = 'c_mktsegment' AND object = 'PHANTOM')
"""


# ----------------------------------- A39/A40 data-quality operators
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling for every orders column — null count, exact
    distinct count, typed min/max (stringified after the agg) — the
    stats a loader publishes after each sync (the reference keeps
    per-partition counts, update_partition.sql stats; this is the
    column-level generalization).

    Two expand-free single-pass legs instead of one agg with N
    countDistinct: multiple distinct aggregates make Spark plan the
    EXPAND strategy — the scan's rows multiply (N+1)x before the
    partial agg (the same trap q21 hit; caught here by .explain).
    Leg 1 computes nulls + typed min/max in one distinct-free wide
    aggregate; leg 2 melts columns to (column, value) rows scan-side
    and two-level-aggregates — groupBy(column, value) then
    groupBy(column) — which IS the exact distinct count with plain
    counts only. The legs join on the 6-row summary. Long-form output
    keeps the schema stable however many columns the table has."""
    orders = load_table(spark, sf_dir, "orders")
    cols = orders.columns
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"nn_{c}"),
            F.min(F.col(c)).cast("string").alias(f"mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"mx_{c}"),
        ]
    wide = orders.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"nn_{c}").alias("n_nulls"),
            F.col(f"mn_{c}").alias("min_value"),
            F.col(f"mx_{c}").alias("max_value"),
        )
        for c in cols
    ]
    typed = wide.select(F.explode(F.array(*per_col)).alias("p")).select(
        "p.column", "p.n_nulls", "p.min_value", "p.max_value"
    )
    melted = orders.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("m")
    ).select("m.column", "m.value")
    distinct_counts = (
        melted.groupBy("column", "value")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("column")
        .agg(
            F.count(F.when(F.col("value").isNotNull(), 1))
            .cast("bigint")
            .alias("n_distinct")
        )
    )
    return typed.join(distinct_counts, "column").select(
        "column", "n_nulls", "n_distinct", "min_value", "max_value"
    )


TABLE_PROFILE_ORACLE = " UNION ALL ".join(
    f"SELECT '{c}' AS column, "
    f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
    f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct, "
    f"CAST(MIN({c}) AS VARCHAR) AS min_value, "
    f"CAST(MAX({c}) AS VARCHAR) AS max_value FROM orders"
    for c in [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
)


def dq_constraint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation pass — the checks a loader runs before
    committing a sync (the reference trusts FK merge order,
    get_dependent_tables.sql; this VERIFIES the invariants instead):
    primary-key uniqueness (orders.o_orderkey), referential integrity
    (lineitem.l_orderkey -> orders, customer FK of orders), and
    not-null. Each check is its own minimal plan — PK duplicates from
    one count-agg over keys, FK orphans from a LEFT ANTI join (never a
    count-distinct of the parent), null checks scan-side — and the
    summary is a tiny union of 1-row aggregates."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")

    pk_dups = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orders_pk_unique").alias("check"), "violations")
    )
    # SQL FK semantics: NULL child keys satisfy the constraint, so the
    # anti joins count only NON-NULL keys without a parent — matching
    # the oracle's correlated NOT EXISTS. (NOT IN would be wrong on the
    # OTHER side: one NULL parent key makes NOT IN return no rows,
    # masking every real orphan — exactly the corrupted-store input
    # this check exists for. ADVICE r5.)
    fk_li = (
        li.filter(F.col("l_orderkey").isNotNull())
        .join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("lineitem_orderkey_fk").alias("check"), "violations")
    )
    fk_cust = (
        orders.filter(F.col("o_custkey").isNotNull())
        .join(cust, orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orders_custkey_fk").alias("check"), "violations")
    )
    nn = (
        orders.filter(
            F.col("o_orderkey").isNull() | F.col("o_orderdate").isNull()
        )
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orders_not_null").alias("check"), "violations")
    )
    return pk_dups.unionByName(fk_li).unionByName(fk_cust).unionByName(nn)


DQ_CHECK_ORACLE = """
SELECT 'orders_pk_unique' AS check,
       CAST((SELECT COUNT(*) FROM (
          SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1
       )) AS BIGINT) AS violations
UNION ALL
SELECT 'lineitem_orderkey_fk',
       (SELECT COUNT(*) FROM lineitem l
        WHERE l.l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'orders_custkey_fk',
       (SELECT COUNT(*) FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'orders_not_null',
       (SELECT COUNT(*) FROM orders
        WHERE o_orderkey IS NULL OR o_orderdate IS NULL)
"""


# ------------------------------------------ A41 z-order maintenance
def maintenance_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout maintenance end-to-end (sources/store.py
    zorder_layout): orders rewrites clustered on the Morton curve of
    (o_custkey, o_orderdate), so per-file min/max stats are narrow on
    BOTH columns and a filter on either skips most files — the
    multi-column data-skipping pass a 100 TB store runs as scheduled
    maintenance. Content is untouched (identity oracle); the per-file
    stat-narrowness contract is pinned in tests/test_sinks.py."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources.store import (
        zorder_layout,
    )

    orders = load_table(spark, sf_dir, "orders")
    out = scratch_dir(spark, "zorder_") + "/orders"
    zorder_layout(orders, ["o_custkey", "o_orderdate"], n_files=16).write.mode(
        "overwrite"
    ).parquet(out)
    return read_parquet(spark, out).select(*orders.columns)


MAINTENANCE_ZORDER_ORACLE = "SELECT * FROM orders"


# -------------------------------------- A42 targeted erasure rewrite
def targeted_delete_gdpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure over the versioned store
    (sources/store.py targeted_delete_rewrite): per-file key ranges
    (one column-pruned scan) pick the files that can hold a target
    key; only those re-encode through an anti join, the rest byte-copy
    into the next version (server-side copy at cluster scale). The
    store lands RANGE-PARTITIONED on the key so ranges are narrow and
    pruning actually prunes — the same layout discipline A41 exists
    for. Erasure of every 97th customer's orders; the oracle is the
    logical complement."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S

    orders = load_table(spark, sf_dir, "orders")
    root = scratch_dir(spark, "gdpr_") + "/orders.parquet"
    S.write_table(orders.repartitionByRange(16, "o_orderkey"), root)
    keys = orders.filter(F.col("o_custkey") % 97 == 0).select("o_orderkey")
    S.targeted_delete_rewrite(spark, root, keys, "o_orderkey")
    return S.read_table(spark, root).select(*orders.columns)


TARGETED_DELETE_ORACLE = """
SELECT * FROM orders WHERE o_custkey % 97 <> 0
"""


# ------------------------------------------ A43 integer PageRank
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite customer<->part purchase graph
    (operators/triples.pagerank_int): distinct (customer, part) edges
    from the order lines, BOTH directions, so rank flows between
    popular parts and heavy buyers. Exact integer arithmetic makes
    the 2-iteration fixpoint verify against an unrolled SQL oracle —
    with the closure (A28) and dup-cluster components (D23) this
    completes the iterative-graph-algorithm family."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # Integer node ids (side in the low bit: customers even, parts
    # odd): the distinct, every per-iteration shuffle and the state
    # joins all key on a BIGINT instead of a concatenated string —
    # same graph, cheaper hashing/compare at every exchange. Labels
    # rebuild only on the final output (r6 perf pass; the oracle keys
    # on the string labels, which the bit-coding reproduces exactly).
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    c_id = (F.col("cust") * 2).cast("long")
    p_id = (F.col("part") * 2 + 1).cast("long")
    edges = pairs.select(c_id.alias("src"), p_id.alias("dst")).unionByName(
        pairs.select(p_id.alias("src"), c_id.alias("dst"))
    )
    ranks = T.pagerank_int(edges, iters=2)
    return ranks.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("C"), F.expr("node div 2").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("P"), F.expr("(node - 1) div 2").cast("string"))
        )
        .alias("node"),
        "rank",
    )


GRAPH_PAGERANK_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS cust,
                  'P' || CAST(l_partkey AS VARCHAR) AS part
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT cust AS src, part AS dst FROM pairs
  UNION ALL
  SELECT part AS src, cust AS dst FROM pairs
),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
),
cnt AS (SELECT COUNT(*) AS n FROM nodes),
outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
r0 AS (
  SELECT node, CAST(1000000 // n AS BIGINT) AS rank FROM nodes, cnt
),
i1 AS (
  SELECT e.dst, CAST(SUM(r.rank * 85 // (100 * o.deg)) AS BIGINT) AS inc
  FROM edges e JOIN r0 r ON e.src = r.node JOIN outdeg o ON e.src = o.src
  GROUP BY 1
),
r1 AS (
  SELECT nb.node,
         CAST(1000000 * 15 // (100 * nb.n) AS BIGINT)
           + COALESCE(i1.inc, 0) AS rank
  FROM (SELECT node, n FROM nodes, cnt) nb
  LEFT JOIN i1 ON i1.dst = nb.node
),
i2 AS (
  SELECT e.dst, CAST(SUM(r.rank * 85 // (100 * o.deg)) AS BIGINT) AS inc
  FROM edges e JOIN r1 r ON e.src = r.node JOIN outdeg o ON e.src = o.src
  GROUP BY 1
)
SELECT nb.node,
       CAST(1000000 * 15 // (100 * nb.n) AS BIGINT)
         + COALESCE(i2.inc, 0) AS rank
FROM (SELECT node, n FROM nodes, cnt) nb
LEFT JOIN i2 ON i2.dst = nb.node
"""


# --------------------------------- A44 join-view incremental maintenance
def join_view_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A44 (r6): DELTA-JOIN maintenance of a materialized JOIN view —
    the join-view counterpart of A34's aggregate summary-delta. The
    maintained view is orders |><| customer (the enriched-orders view
    every mart keeps); a delta of upserted orders refreshes it as

        view' = (view ANTI delta.keys) UNION (delta |><| customer)

    so the refresh cost is |view| + |delta| x |customer-lookup| — the
    base orders FACT is never re-joined (the anti join is key-only
    against the delta's broadcast key set, and only the DELTA rows
    pay the dimension join). Oracle = the full recompute over the
    upserted orders, which the maintenance identity must equal
    exactly. Same refresh semantics as the reference's incremental
    SINCE sync feeding an enriched index (configuration.ts SINCE +
    update_partition.sql's joined document build)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def enrich(o: DataFrame) -> DataFrame:
        return o.join(cust, o.o_custkey == cust.c_custkey).select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "o_orderstatus",
            "c_name",
            "c_mktsegment",
        )

    base = orders.filter(F.col("o_orderdate") < _UPSERT_SPLIT)
    delta = (
        orders.filter(F.col("o_orderdate") >= "1995-01-01")
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .withColumn("o_orderstatus", F.lit("U"))
    )
    view = enrich(base)  # the maintained state (materialized in prod)
    refreshed = view.join(
        F.broadcast(delta.select("o_orderkey").distinct()),
        "o_orderkey",
        "left_anti",
    ).unionByName(enrich(delta))
    return refreshed


JOIN_VIEW_IVM_ORACLE = f"""
WITH upserted AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
  FROM orders
  WHERE o_orderdate < '{_UPSERT_SPLIT}'
    AND NOT EXISTS (
      SELECT 1 FROM orders d
      WHERE d.o_orderdate >= '1995-01-01'
        AND d.o_orderkey = orders.o_orderkey)
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice * 1.1, 'U'
  FROM orders WHERE o_orderdate >= '1995-01-01'
)
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
       c_name, c_mktsegment
FROM upserted JOIN customer ON o_custkey = c_custkey
"""


# ------------------------------------ A45 ordered CDC apply (r6)
def merge_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A45: apply an ordered CDC CHANGELOG (op in I/U/D with a
    sequence number) to produce the converged table — the lakehouse
    APPLY CHANGES INTO primitive, and the general form of the
    reference's merge+delete pair (database.ts MERGE INTO +
    arc_db_delete_flow deletes): last-writer-wins per key by sequence,
    a trailing tombstone erases the key entirely. One window pass over
    one shuffle on the key — same plan family as merge_upsert, plus
    tombstone semantics ordered BY SEQUENCE, not by source side.

    The changelog synthesizes deterministically from orders: every
    order INSERTs at seq 1; keys % 3 == 0 UPDATE at seq 2 (repriced);
    keys % 5 == 0 DELETE at seq 3."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    ins = orders.select(
        "o_orderkey",
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
        cents.alias("price_cents"),
        F.col("o_orderstatus").alias("status"),
    )
    upd = (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("cents", cents)
        .select(
            "o_orderkey",
            F.lit("U").alias("op"),
            F.lit(2).alias("seq"),
            # integer floor division in BOTH engines (values
            # nonnegative, so div == //): a double division + cast
            # would truncate in Spark but round in DuckDB.
            F.expr("cents * 11 div 10").alias("price_cents"),
            F.lit("U").alias("status"),
        )
    )
    dele = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(3).alias("seq"),
        F.lit(None).cast("bigint").alias("price_cents"),
        F.lit(None).cast("string").alias("status"),
    )
    changelog = ins.unionByName(upd).unionByName(dele)
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("seq"))
    return (
        changelog.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "o_orderkey",
            (F.col("price_cents") / 100.0).alias("o_totalprice"),
            F.col("status").alias("o_orderstatus"),
        )
    )


MERGE_CDC_APPLY_ORACLE = """
WITH changelog AS (
  SELECT o_orderkey, 'I' AS op, 1 AS seq,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
         o_orderstatus AS status
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'U', 2,
         (CAST(ROUND(o_totalprice * 100) AS BIGINT) * 11) // 10,
         'U'
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, 'D', 3, NULL, NULL
  FROM orders WHERE o_orderkey % 5 = 0
),
latest AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                               ORDER BY seq DESC) AS rn
  FROM changelog
)
SELECT o_orderkey,
       price_cents / 100.0 AS o_totalprice,
       status AS o_orderstatus
FROM latest WHERE rn = 1 AND op <> 'D'
"""


# --------------------------------- A46 snapshot-consistent read (r6)
def flow_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A46: snapshot-consistent multi-table read — table versions
    advance independently (one pointer swap per write_table), so two
    reads in one query can straddle a commit; the manifest pins
    {table: version} at one instant (sources/store.py
    write_snapshot_manifest) and a reader holding it is immune to
    later pointer swaps. Here: land customer+orders, pin a snapshot,
    let a writer advance orders, then read THROUGH the manifest — the
    result must be the pre-write orders exactly (the oracle), not the
    advanced version a live read would see. Requires retention
    (prune=False writes), the same precondition as time travel."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store

    root = scratch_dir(spark, "snapshot_")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    store.write_table(orders, f"{root}/orders.parquet", prune=False)
    store.write_table(cust, f"{root}/customer.parquet", prune=False)
    manifest = store.write_snapshot_manifest(root, ["orders", "customer"])
    # a concurrent writer advances orders past the snapshot
    store.write_table(
        orders.limit(10), f"{root}/orders.parquet", prune=False
    )
    snap = store.read_snapshot(spark, root, manifest)
    return snap["orders"]


SNAPSHOT_READ_ORACLE = "SELECT * FROM orders"


# -------------------------- A47 SCD2 point-in-time lookup (r6)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A47: POINT-IN-TIME lookup over the SCD2 dimension (A27's
    output) — the feature-store join: each fact row reads the dim
    version that was current AT ITS OWN event time, never a later one
    (the train-serve-skew guard). SCD2 validity intervals are disjoint
    per key by construction, so the lookup is an EQUI join on the key
    plus a residual interval filter — one keyed shuffle, no window, at
    most one dim version per fact. Facts before a key's first version
    drop (inner semantics — an entity that did not exist yet has no
    features)."""
    dim = merge_scd2(spark, sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "valid_from", "valid_to",
    )
    facts = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    return (
        facts.join(dim, facts.l_orderkey == dim.o_orderkey)
        .filter(
            (F.col("valid_from") <= F.col("l_shipdate"))
            & (
                F.col("valid_to").isNull()
                | (F.col("l_shipdate") < F.col("valid_to"))
            )
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_shipdate",
            F.col("o_orderstatus").alias("status_asof"),
            F.col("o_totalprice").alias("price_asof"),
        )
    )


SCD2_PIT_ORACLE = """
WITH target AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         o_orderdate AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
  FROM orders
), src AS (
  SELECT o_orderkey, 'U' AS o_orderstatus,
         o_totalprice * 1.1 AS o_totalprice,
         TIMESTAMP '1997-01-01 00:00:00' AS valid_from
  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
), dim AS (
  SELECT t.o_orderkey, t.o_orderstatus, t.o_totalprice, t.valid_from,
         CASE WHEN t.valid_to IS NULL AND s.o_orderkey IS NOT NULL
              THEN GREATEST(s.valid_from, t.valid_from)
              ELSE t.valid_to END AS valid_to
  FROM target t LEFT JOIN src s USING (o_orderkey)
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, valid_from,
         CAST(NULL AS TIMESTAMP)
  FROM src
)
SELECT l_orderkey, l_linenumber, l_shipdate,
       d.o_orderstatus AS status_asof,
       d.o_totalprice AS price_asof
FROM lineitem
JOIN dim d ON l_orderkey = d.o_orderkey
WHERE d.valid_from <= l_shipdate
  AND (d.valid_to IS NULL OR l_shipdate < d.valid_to)
"""


# ------------------------- A48 resumable iterative PageRank (r6)
def graph_pagerank_resumable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A48: A43's integer PageRank with DURABLE iteration state
    (operators/triples.pagerank_int_resumable): each completed
    iteration lands as the next version of a store table, so a driver
    crash loses at most the in-flight iteration and the retry resumes
    from the last landed one — the restart contract every multi-hour
    iterative job needs at 100 TB, where localCheckpoint (executor
    memory) does not survive. Exact integer arithmetic makes the
    resumed and straight-through runs bit-identical (tested), and the
    fixpoint shares A43's unrolled SQL oracle."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    c_id = (F.col("cust") * 2).cast("long")
    p_id = (F.col("part") * 2 + 1).cast("long")
    edges = pairs.select(c_id.alias("src"), p_id.alias("dst")).unionByName(
        pairs.select(p_id.alias("src"), c_id.alias("dst"))
    )
    state = scratch_dir(spark, "pagerank_state_") + "/ranks"
    ranks = T.pagerank_int_resumable(spark, edges, state, iters=2)
    return ranks.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("C"), F.expr("node div 2").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("P"), F.expr("(node - 1) div 2").cast("string"))
        )
        .alias("node"),
        "rank",
    )


# --------------------------------------------- A49 SPARQL SELECT aggs
def kg_select_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A49 (r6): SPARQL SELECT with AGGREGATES — ``SELECT ?nation
    (COUNT(?c) AS ?n) (SAMPLE/MIN(?name)) (GROUP_CONCAT(?name; ';'))
    GROUP BY ?nation`` over the quad store. With CONSTRUCT (A3/A17/
    A22-24), DESCRIBE (A37) and ASK (A38) this completes the SPARQL
    query-form surface at its aggregate tier (SPARQL 1.1 §11).

    Spark-first: the BGP binds through ``sparql.select_query``
    (n_name scoped to graph:orgs — the unscoped pattern would double-
    match the staging drafts), then ONE hash aggregate keyed by the
    group variable. GROUP_CONCAT must be deterministic at any
    parallelism: collect_list has no order guarantee, so the list is
    array_sort-ed before joining — the oracle's ORDER BY inside
    STRING_AGG is the same contract."""
    out = SQ.select_query(
        _kg_graph(spark, sf_dir),
        """SELECT ?name ?nation WHERE {
          ?c <c_name> ?name ; <c_nationkey> ?nk .
          GRAPH ?g { ?nk <n_name> ?nation }
          VALUES ?g { <graph:orgs> }
        }""",
    )
    return out.groupBy(F.col("nation")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("name").alias("sample_name"),
        F.array_join(F.array_sort(F.collect_list("name")), ";").alias(
            "names_concat"
        ),
    )


KG_SELECT_AGG_ORACLE = """
SELECT n_name AS nation,
       COUNT(*) AS n_customers,
       MIN(c_name) AS sample_name,
       STRING_AGG(c_name, ';' ORDER BY c_name) AS names_concat
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
"""


# ----------------------------------- A50 conditional partial-update MERGE
def merge_upsert_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A50 (r6): the full SQL MERGE form — ``WHEN MATCHED AND cond THEN
    UPDATE SET <subset>`` — on the orders table. Source re-stages
    post-1995 orders with re-priced totals (even keys up 10%, odd keys
    down 10%) and a staging marker in o_orderpriority; the merge updates
    ONLY (o_orderstatus, o_totalprice), ONLY where the staged price is
    HIGHER (prices never decrease), keeps everything else from the
    target — so matched rows must retain their original priority (the
    partial-update proof) and odd-key matches pass through bit-identical
    (the condition proof); unmatched staged orders insert whole, marker
    and all. One full-outer hash join on the PK (operators/merge.py
    upsert_conditional)."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderdate") < _UPSERT_SPLIT)
    src = (
        orders.filter(F.col("o_orderdate") >= "1995-01-01")
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 2 == 0, F.col("o_totalprice") * 1.1)
            .otherwise(F.col("o_totalprice") * 0.9),
        )
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_orderpriority", F.lit("9-STAGED"))
    )
    return M.upsert_conditional(
        base,
        src,
        keys=["o_orderkey"],
        update_cols=["o_orderstatus", "o_totalprice"],
        condition=lambda sc, tc: sc("o_totalprice") > tc("o_totalprice"),
    )


MERGE_UPSERT_COND_ORACLE = f"""
WITH base AS (
  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '{_UPSERT_SPLIT} 00:00:00'
), src AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice * 0.9 END AS o_totalprice,
         o_orderdate, '9-STAGED' AS o_orderpriority
  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
)
SELECT b.o_orderkey, b.o_custkey,
       CASE WHEN s.o_orderkey IS NOT NULL AND s.o_totalprice > b.o_totalprice
            THEN s.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus,
       CASE WHEN s.o_orderkey IS NOT NULL AND s.o_totalprice > b.o_totalprice
            THEN s.o_totalprice ELSE b.o_totalprice END AS o_totalprice,
       b.o_orderdate, b.o_orderpriority
FROM base b LEFT JOIN src s ON s.o_orderkey = b.o_orderkey
UNION ALL
SELECT s.* FROM src s
WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.o_orderkey = s.o_orderkey)
"""


# ------------------------------------------- A51 SPARQL 1.1 subquery
def kg_construct_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A51 (r6): SPARQL 1.1 SUBQUERY (§12) — a nested ``SELECT ?nk
    (COUNT(?c) AS ?n) GROUP BY ?nk`` feeding the outer BGP: customers
    of nations MORE POPULOUS THAN AVERAGE. With aggregates (A49) this
    closes the SPARQL 1.1 grammar surface the reference could ever
    grow into (its queries are CONSTRUCT-only today).

    Spark-first: the inner query is a keyed count aggregate; the
    average-count is a 1-row aggregate CROSS-joined back (broadcast of
    one row — the standard scalar-subquery decorrelation); the outer
    BGP joins the qualifying nation set by ?nk. The triple store is
    scanned per pattern with predicate pruning (the staged quad
    layout), never re-melted."""
    graph = _kg_graph(spark, sf_dir)
    counts = (
        graph.filter(F.col("predicate") == "c_nationkey")
        .groupBy(F.col("object").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    avg_n = counts.agg(F.avg("n").alias("avg_n"))
    populous = counts.crossJoin(F.broadcast(avg_n)).filter(
        F.col("n") > F.col("avg_n")
    )
    out = SQ.select_query(
        graph,
        """SELECT ?c ?name ?nk ?nation WHERE {
          ?c <c_name> ?name ; <c_nationkey> ?nk .
          GRAPH ?g { ?nk <n_name> ?nation }
          VALUES ?g { <graph:orgs> }
        }""",
    )
    qualifying = populous.select(
        F.col("nk").alias("_pnk"), F.col("n").alias("nation_customers")
    )
    return out.join(qualifying, on=out["nk"] == qualifying["_pnk"]).select(
        F.col("c").alias("id"),
        F.col("name").alias("cust_name"),
        F.col("nation"),
        F.col("nation_customers"),
    )


KG_SUBQUERY_ORACLE = """
WITH counts AS (
  SELECT c_nationkey, COUNT(*) AS n FROM customer GROUP BY 1
), populous AS (
  SELECT c_nationkey, n FROM counts
  WHERE n > (SELECT AVG(n) FROM counts)
)
SELECT CAST(c.c_custkey AS VARCHAR) AS id,
       c.c_name AS cust_name,
       nt.n_name AS nation,
       p.n AS nation_customers
FROM customer c
JOIN populous p ON c.c_nationkey = p.c_nationkey
JOIN nation nt ON nt.n_nationkey = c.c_nationkey
"""


# ------------------------- A52 retractable aggregate maintenance (r6)
def agg_refresh_retractable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A52 (r6): summary-delta maintenance with RETRACTIONS — A34
    handles an insert-only delta; real CDC feeds carry deletes too
    (the reference's orphan/delete flows remove rows whose aggregate
    contributions must come OUT of any maintained rollup). Each delta
    row carries a sign (+1 insert, -1 retract); per-group signed
    partials (count, cents) merge into the state by ADDITION in one
    full-outer keyed join, groups whose live count reaches zero drop
    from the view. Exact bigint cents make merge == full recompute
    bit-for-bit (the A34 rule); the base fact is never re-scanned —
    refresh cost tracks |groups| + |delta|.

    Delta here: all post-split orders INSERT; pre-split orders with
    o_orderkey % 7 == 0 RETRACT. Oracle = full recompute over the live
    set."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.filter(F.col("o_orderdate") < _AGG_SPLIT)
    state = base.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("spend_cents"),
    )
    inserts = orders.filter(F.col("o_orderdate") >= _AGG_SPLIT).select(
        "o_custkey", F.lit(1).alias("sign"), cents.alias("cents")
    )
    retracts = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_custkey", F.lit(-1).alias("sign"), cents.alias("cents")
    )
    delta = inserts.unionByName(retracts).withColumnRenamed("cents", "spend_cents")
    merged = M.merge_agg_state_signed(
        state, delta, keys=["o_custkey"], sum_cols=["spend_cents"]
    )
    return merged.select(
        "o_custkey",
        F.col("n").alias("n_orders"),
        (F.col("spend_cents") / 100.0).alias("total_spend"),
    )


AGG_RETRACT_ORACLE = f"""
SELECT o_custkey,
       COUNT(*) AS n_orders,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_spend
FROM orders
WHERE NOT (o_orderdate < TIMESTAMP '{_AGG_SPLIT}' AND o_orderkey % 7 = 0)
GROUP BY o_custkey
"""


# ------------------------------------ A53 negated property set (r6)
def kg_path_negated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A53 (r6): SPARQL 1.1 NEGATED PROPERTY SET (§9.1) — ``?c
    !(c_mktsegment|c_acctbal) ?v`` joined to a segment anchor: every
    property value of BUILDING customers EXCEPT the negated
    predicates. With sequence/alternation/inverse (A18), + (A28),
    * (A28b) and now !, the property-path algebra is complete. The
    complement in-list stays one scan; on the predicate-partitioned
    staged layout it prunes to all-but-those partitions."""
    cust = load_table(spark, sf_dir, "customer")
    triples = T.melt(cust, "c_custkey", CUSTOMER_COLS, subject_prefix="customer:")
    out = SQ.select_query(
        triples,
        """SELECT ?c ?v WHERE {
          ?c !(<c_mktsegment>|<c_acctbal>) ?v ; <c_mktsegment> "BUILDING"
        }""",
    )
    return out.select(F.col("c").alias("id"), F.col("v"))


KG_PATH_NEGATED_ORACLE = """
SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS id,
       CAST(c_name AS VARCHAR) AS v
FROM customer WHERE c_mktsegment = 'BUILDING' AND c_name IS NOT NULL
UNION ALL
SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS id,
       CAST(c_nationkey AS VARCHAR) AS v
FROM customer WHERE c_mktsegment = 'BUILDING' AND c_nationkey IS NOT NULL
"""


# ------------------------------------------------ A54 SPARQL MINUS (r6)
def kg_construct_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A54 (r6): SPARQL MINUS (1.1 §8.3) — BUILDING customers minus
    those with a nation-5 binding. MINUS is NOT FILTER NOT EXISTS: the
    anti join keys on the SHARED variables, and a minus group sharing
    no variable removes nothing (the spec's disjoint-domain identity —
    unit-tested in tests/test_triples.py), where NOT EXISTS with any
    match would erase the base. One left-anti join on the shared var."""
    cust = load_table(spark, sf_dir, "customer")
    triples = T.melt(cust, "c_custkey", CUSTOMER_COLS)
    out = SQ.select_query(
        triples,
        """SELECT ?c ?name ?nk WHERE {
          ?c <c_name> ?name ; <c_mktsegment> "BUILDING" ; <c_nationkey> ?nk .
          MINUS { ?c <c_nationkey> "5" }
        }""",
    )
    return out.select(
        F.col("c").alias("id"), F.col("name"), F.col("nk")
    )


KG_MINUS_ORACLE = """
SELECT CAST(c_custkey AS VARCHAR) AS id,
       c_name AS name,
       CAST(c_nationkey AS VARCHAR) AS nk
FROM customer
WHERE c_mktsegment = 'BUILDING'
  AND c_name IS NOT NULL
  AND c_nationkey IS NOT NULL
  AND c_nationkey <> 5
"""


# --------------------------------- A55 nested JSON roundtrip (r6)
def source_json_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A55 (r6): NESTED-document interchange — A26 pins flat CSV/NDJSON
    fidelity; real document feeds (the reference's index documents, ES
    `_bulk` payloads) nest structs and arrays. Each order serializes as
    one NDJSON document with an ARRAY OF LINE STRUCTS (sorted by line
    number so the document is deterministic), lands as splittable
    text, reads back via from_json with the explicit schema, and
    EXPLODES back to flat rows — the oracle is the identity on the
    underlying join, so every step (struct build, double/timestamp
    JSON serialization, parse, explode) must be value-exact: doubles
    survive because Spark's JSON writer emits shortest-round-trip
    decimals, timestamp_ntz survives the default ISO form."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.select(
        "l_orderkey",
        F.struct("l_linenumber", "l_quantity", "l_extendedprice").alias("ln"),
    )
    docs = (
        orders.join(lines, orders.o_orderkey == lines.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.first("o_orderstatus").alias("o_orderstatus"),
            F.first("o_totalprice").alias("o_totalprice"),
            F.first("o_orderdate").alias("o_orderdate"),
            F.array_sort(F.collect_list("ln")).alias("lines"),
        )
    )
    out_dir = scratch_dir(spark, "json_rt_") + "/orders_nested"
    schema = docs.schema
    docs.select(F.to_json(F.struct(*docs.columns)).alias("value")).write.mode(
        "overwrite"
    ).text(out_dir)
    parsed = (
        spark.read.text(out_dir)
        .select(F.from_json("value", schema).alias("d"))
        .select("d.*")
    )
    return parsed.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        F.explode("lines").alias("ln"),
    ).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        F.col("ln.l_linenumber").alias("l_linenumber"),
        F.col("ln.l_quantity").alias("l_quantity"),
        F.col("ln.l_extendedprice").alias("l_extendedprice"),
    )


SOURCE_JSON_NESTED_ORACLE = """
SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate,
       l.l_linenumber, l.l_quantity, l.l_extendedprice
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
"""


# ---------------------------------- A56 manifest-aware vacuum (r6)
def maintenance_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A56 (r6): retention GC with SNAPSHOT-PIN awareness — the missing
    end of the store lifecycle (land -> compact -> zorder -> erase ->
    VACUUM). Three versions land under retention, a manifest (A46)
    pins v2, vacuum(keep_last=1) reclaims: v1 (unreachable) must go,
    v2 must SURVIVE because a held manifest still resolves it, v3 is
    live. Pure file metadata — no data scan. The returned live table
    is the identity oracle; the pin/removal contract is asserted
    in-plan (loud failure) and in tests/test_flows.py."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store

    store_dir = scratch_dir(spark, "vacuum_")
    tp = f"{store_dir}/orders.parquet"
    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    store.write_table(orders.filter(F.col("o_orderstatus") == "F"), tp, prune=False)
    store.write_table(orders.filter(F.col("o_orderstatus") != "F"), tp, prune=False)
    pin = store.write_snapshot_manifest(store_dir, ["orders"])
    store.write_table(orders, tp, prune=False)
    removed = store.vacuum_table(tp, store_dir, keep_last=1)
    assert removed == [1], f"vacuum removed {removed}, expected [1]"
    assert store.read_snapshot(spark, store_dir, pin)["orders"] is not None
    return store.read_table(spark, tp)


MAINTENANCE_VACUUM_ORACLE = f"SELECT {', '.join(ORDER_COLS)} FROM orders"


# --------------------------------- A57 inclusion-dependency profiling
_FK_CANDIDATES = [
    # (child table, child col, parent table, parent col) — the last is
    # a deliberate NON-KEY pair that must profile near zero.
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("events", "user_id", "customer", "c_custkey"),
    ("orders", "o_orderkey", "customer", "c_custkey"),
]


def fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A57 (r6): INCLUSION-DEPENDENCY profiling — discover FK
    candidates by measuring containment of each child column's
    distinct values in the parent key (the metadata A13's topo order
    and A40's FK checks consume, now DERIVED from data instead of
    assumed; how schema inference works on an undocumented lake).
    Per candidate: distinct child keys (one keyed agg), orphans via
    LEFT ANTI join against the parent key (never a distinct of the
    parent fact — the A40 rule), containment in exact e6 integers.
    The union is |candidates| one-row summaries — driver-sized
    output, fact tables touched once each."""
    parts = []
    for child_t, child_c, parent_t, parent_c in _FK_CANDIDATES:
        child = (
            load_table(spark, sf_dir, child_t)
            .select(F.col(child_c).cast("string").alias("k"))
            .filter(F.col("k").isNotNull())
            .distinct()
        )
        parent = load_table(spark, sf_dir, parent_t).select(
            F.col(parent_c).cast("string").alias("k")
        )
        orphans = child.join(parent, "k", "left_anti")
        parts.append(
            child.agg(F.count(F.lit(1)).alias("n_distinct"))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            .select(
                F.lit(f"{child_t}.{child_c}").alias("child"),
                F.lit(f"{parent_t}.{parent_c}").alias("parent"),
                "n_distinct",
                "n_orphans",
                F.expr(
                    "(1000000 * (n_distinct - n_orphans)) div n_distinct"
                ).alias("containment_e6"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


FK_DISCOVERY_ORACLE = " UNION ALL ".join(
    f"""
SELECT '{ct}.{cc}' AS child, '{pt}.{pc}' AS parent,
       COUNT(*) AS n_distinct,
       CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       CAST((1000000 * (COUNT(*) - SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END)))
         // COUNT(*) AS BIGINT) AS containment_e6
FROM (SELECT DISTINCT CAST({cc} AS VARCHAR) AS k FROM {ct}
      WHERE {cc} IS NOT NULL) c
LEFT JOIN (SELECT DISTINCT CAST({pc} AS VARCHAR) AS k FROM {pt}) p
  ON p.k = c.k
"""
    for ct, cc, pt, pc in _FK_CANDIDATES
)


# ------------------------------- A58 corrupt-tolerant ingestion (r6)
def source_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A58 (r6): PERMISSIVE ingestion with dead-letter routing — the
    batch parse-error twin of the streaming DQ gate (C10): a feed with
    malformed lines must land every parseable record AND account for
    every corrupt one (silent drops are how corpora lose data
    unnoticed). Corruption is PLANTED deterministically (customers
    with c_custkey % 97 == 0 serialize truncated, identically in the
    oracle), the landed text re-parses via from_json — NULL parse =
    corrupt — and each line routes with its classification; row
    conservation (valid + dead == source) is part of the oracle, as
    in C10. Scan-side end to end: serialize, truncate, parse, and
    classify are projections; zero shuffles."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    doc = F.to_json(F.struct("c_custkey", "c_name", "c_acctbal"))
    lines = cust.select(
        F.when(
            F.col("c_custkey") % 97 == 0,
            F.substring(doc, 1, 10),  # truncated JSON: unparseable
        )
        .otherwise(doc)
        .alias("value")
    )
    out_dir = scratch_dir(spark, "corrupt_rt_") + "/feed"
    lines.write.mode("overwrite").text(out_dir)
    parsed = spark.read.text(out_dir).select(
        F.from_json(
            "value", "c_custkey bigint, c_name string, c_acctbal double"
        ).alias("d"),
        "value",
    )
    return parsed.select(
        F.col("d.c_custkey").alias("c_custkey"),
        F.col("d.c_name").alias("c_name"),
        F.col("d.c_acctbal").alias("c_acctbal"),
        F.when(F.col("d").isNull() | F.col("d.c_custkey").isNull(), "dead_letter")
        .otherwise("valid")
        .alias("sink"),
    )


SOURCE_CORRUPT_ORACLE = """
SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE c_custkey END AS c_custkey,
       CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE c_name END AS c_name,
       CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal,
       CASE WHEN c_custkey % 97 = 0 THEN 'dead_letter' ELSE 'valid' END AS sink
FROM customer
"""


# -------------------------------------------- A59 SPARQL UPDATE (r6)
def kg_update_delete_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A59 (r6): SPARQL UPDATE — ``DELETE WHERE { ?c c_mktsegment ?s }
    INSERT { ?c c_flag "migrated" }`` scoped to nation-5 customers:
    the graph-maintenance half of the SPARQL surface (1.1 Update §3),
    which the reference performs out-of-band via its merge flows. The
    WHERE match binds the affected subjects once (one semi-joinable
    subject set); DELETE is a left-anti join of the store on (subject,
    predicate in deleted set), INSERT unions the constructed triples —
    the same one-shuffle shapes as A7/A9, now driven by a graph
    pattern instead of table keys. Result = the post-update store."""
    cust = load_table(spark, sf_dir, "customer")
    triples = T.melt(cust, "c_custkey", CUSTOMER_COLS, subject_prefix="customer:")
    affected = (
        triples.filter(
            (F.col("predicate") == "c_nationkey") & (F.col("object") == "5")
        )
        .select("subject")
        .distinct()
    )
    # NULL-safe: an unmatched subject's _hit is NULL, and ~(NULL & p)
    # is NULL under three-valued logic — which a filter DROPS, deleting
    # every segment triple instead of the affected ones. Coalesce first.
    kept = triples.join(
        affected.withColumn("_hit", F.lit(1)), "subject", "left"
    ).filter(
        ~(
            (F.coalesce(F.col("_hit"), F.lit(0)) == 1)
            & (F.col("predicate") == "c_mktsegment")
        )
    )
    inserted = affected.select(
        "subject",
        F.lit("c_flag").alias("predicate"),
        F.lit("migrated").alias("object"),
    )
    return kept.select("subject", "predicate", "object").unionByName(inserted)


KG_UPDATE_ORACLE = " UNION ALL ".join(
    [
        f"SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS subject, "
        f"'{c}' AS predicate, CAST({c} AS VARCHAR) AS object "
        f"FROM customer WHERE {c} IS NOT NULL"
        + (" AND COALESCE(c_nationkey, -1) <> 5" if c == "c_mktsegment" else "")
        for c in CUSTOMER_COLS
    ]
    + [
        "SELECT 'customer:' || CAST(c_custkey AS VARCHAR), 'c_flag', "
        "'migrated' FROM customer WHERE c_nationkey = 5"
    ]
)


# --------------------------- A60 named-graph management ops (r6)
def kg_graph_management(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A60 (r6): SPARQL Update GRAPH MANAGEMENT (1.1 Update §3.2) —
    ``COPY graph:orgs TO graph:backup; DROP graph:staging`` over the
    quad store: graph-level ops complete the Update surface beyond
    A59's triple-level DELETE/INSERT. On the graph-partitioned layout
    both are METADATA-SHAPED: DROP prunes a partition filter, COPY is
    a re-tagged scan of one partition unioned back — no per-triple
    matching. Result = the post-update quad store (graph column
    included, so the oracle checks placement, not just content)."""
    g = _kg_graph(spark, sf_dir)
    kept = g.filter(F.col("graph") != "graph:staging")
    backup = g.filter(F.col("graph") == "graph:orgs").withColumn(
        "graph", F.lit("graph:backup")
    )
    return kept.unionByName(backup).select(
        "subject", "predicate", "object", "graph"
    )


KG_GRAPH_MGMT_ORACLE = """
WITH quads AS (
  SELECT CAST(c_custkey AS VARCHAR) AS subject,
         'c_name' AS predicate, CAST(c_name AS VARCHAR) AS object,
         'graph:entities' AS graph
  FROM customer WHERE c_name IS NOT NULL
  UNION ALL
  SELECT CAST(c_custkey AS VARCHAR), 'c_mktsegment',
         CAST(c_mktsegment AS VARCHAR), 'graph:entities'
  FROM customer WHERE c_mktsegment IS NOT NULL
  UNION ALL
  SELECT CAST(c_custkey AS VARCHAR), 'c_nationkey',
         CAST(c_nationkey AS VARCHAR), 'graph:entities'
  FROM customer WHERE c_nationkey IS NOT NULL
  UNION ALL
  SELECT CAST(n_nationkey AS VARCHAR), 'n_name',
         CAST(n_name AS VARCHAR), 'graph:orgs'
  FROM nation WHERE n_name IS NOT NULL
  UNION ALL
  SELECT CAST(o_orderkey AS VARCHAR), 'o_custkey',
         CAST(o_custkey AS VARCHAR), 'graph:entities'
  FROM orders WHERE o_custkey IS NOT NULL
  UNION ALL
  SELECT CAST(o_orderkey AS VARCHAR), 'o_orderpriority',
         CAST(o_orderpriority AS VARCHAR), 'graph:entities'
  FROM orders WHERE o_orderpriority IS NOT NULL
)
SELECT subject, predicate, object, graph FROM quads
UNION ALL
SELECT CAST(n_nationkey AS VARCHAR), 'n_name',
       CAST(n_name AS VARCHAR), 'graph:backup'
FROM nation WHERE n_name IS NOT NULL
"""


# ------------------------------ A61 multi-variable VALUES rows (r6)
def kg_construct_values_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A61 (r6): SPARQL VALUES in its FULL row form (1.1 §10.2) —
    ``VALUES (?seg ?nk) { ('BUILDING' '5') ('MACHINERY' '7') }``:
    allowed (segment, nation) COMBINATIONS, which the single-variable
    in-list (A17) cannot express — two independent in-lists would
    admit the cross product. The rows become a literal inline-data
    frame broadcast-joined on its variables. Customers matching either
    correlated pair."""
    cust = load_table(spark, sf_dir, "customer")
    triples = T.melt(cust, "c_custkey", CUSTOMER_COLS, subject_prefix="customer:")
    out = SQ.select_query(
        triples,
        """SELECT ?c ?name ?seg ?nk WHERE {
          ?c <c_name> ?name ; <c_mktsegment> ?seg ; <c_nationkey> ?nk .
          VALUES (?seg ?nk) { ("BUILDING" "5") ("MACHINERY" "7") }
        }""",
    )
    return out.select(
        F.col("c").alias("id"), F.col("name"), F.col("seg"), F.col("nk")
    )


KG_VALUES_ROWS_ORACLE = """
SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS id,
       c_name AS name, c_mktsegment AS seg,
       CAST(c_nationkey AS VARCHAR) AS nk
FROM customer
WHERE (c_mktsegment = 'BUILDING' AND c_nationkey = 5)
   OR (c_mktsegment = 'MACHINERY' AND c_nationkey = 7)
"""


# ------------------------------------ A62 constraint-gated commit (r6)
def store_validated_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A62 (r6): constraint-gated commit — A40's checks moved INTO the
    write path: the candidate version lands, validation runs against
    the LANDED files, and only a clean run swaps the pointer; a dirty
    batch (PK-duplicated orders, planted) is rejected with the live
    pointer untouched. Both outcomes exercised in-plan: the dirty
    commit must fail, the clean commit must land, and the returned
    live table is the identity oracle."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store

    tp = scratch_dir(spark, "validated_") + "/orders.parquet"
    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)

    def pk_dupes(landed):
        return (
            landed.groupBy("o_orderkey")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )

    def null_keys(landed):
        return landed.filter(F.col("o_orderkey").isNull()).count()

    checks = [("pk_unique", pk_dupes), ("pk_not_null", null_keys)]
    store.write_table_validated(orders, tp, checks)  # clean: lands as v1
    dirty = orders.unionByName(orders.limit(50))
    try:
        store.write_table_validated(dirty, tp, checks)
        raise AssertionError("dirty commit was accepted")
    except store.CommitValidationError:
        pass
    live = store.read_table(spark, tp)
    assert store.current_version(tp) == 1, "dirty commit moved the pointer"
    return live


STORE_VALIDATED_ORACLE = f"SELECT {', '.join(ORDER_COLS)} FROM orders"


# ------------------------------- A63 multi-table atomic commit (r6)
def store_multi_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A63 (r6): cross-table ATOMIC VISIBILITY — orders and lineitem
    commit TOGETHER through one numbered root manifest (the commit
    point; per-table pointers are a convenience cache swapped after).
    In-plan proof: after a first committed state, a second commit
    rewrites both tables (orders re-priced, lineitem re-taxed); the
    latest-manifest read must see BOTH new versions — and the pinned
    first manifest still reads BOTH old ones (no torn combination
    either way). Returns the post-commit join read THROUGH the
    manifest; oracle = the same join recomputed."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store

    sd = scratch_dir(spark, "multicommit_")
    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_tax"
    )
    m1 = store.commit_tables(sd, {"orders": orders, "lineitem": li})
    orders2 = orders.withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    li2 = li.withColumn("l_tax", F.col("l_tax") + 0.01)
    store.commit_tables(sd, {"orders": orders2, "lineitem": li2})
    latest = store.latest_manifest(sd)
    new = store.read_snapshot(spark, sd, latest)
    old = store.read_snapshot(spark, sd, m1)
    assert old["orders"].agg(F.sum("o_totalprice")).first()[0] < (
        new["orders"].agg(F.sum("o_totalprice")).first()[0]
    ), "manifest read mixed commit states"
    return (
        new["orders"]
        .join(new["lineitem"], new["orders"].o_orderkey == new["lineitem"].l_orderkey)
        .select(
            "o_orderkey",
            "l_linenumber",
            (F.col("o_totalprice")).alias("o_totalprice_new"),
            (F.col("l_tax")).alias("l_tax_new"),
        )
    )


STORE_MULTI_COMMIT_ORACLE = """
SELECT o.o_orderkey, l.l_linenumber,
       o.o_totalprice * 1.1 AS o_totalprice_new,
       l.l_tax + 0.01 AS l_tax_new
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
"""


# ----------------------- A64 join+agg view incremental refresh (r6)
_JOIN_AGG_SPLIT = "1997-01-01 00:00:00"


def agg_join_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A64 (r6): incremental maintenance of a JOIN + AGGREGATE view —
    the composition A44 (join view) and A34 (aggregate summary-delta)
    each solve half of: the view is per-customer revenue over
    orders ⋈ lineitem, the delta arrives in ONE base table (new
    lineitems). Maintenance: the delta JOINS the other base on its
    key (the only join work — |delta| probes, the fact join is never
    re-run) and the resulting partials fold into the aggregate state
    by addition (exact e4 integer revenue, the A34 rule). Refresh
    cost: |groups| + |delta| x lookup. Oracle = full recompute."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * F.round((1 - F.col("l_discount")) * 100).cast("bigint")
    )
    base = li.filter(F.col("l_shipdate") < _JOIN_AGG_SPLIT)
    delta = li.filter(F.col("l_shipdate") >= _JOIN_AGG_SPLIT)
    state = (
        base.join(orders, base.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(rev_e4).alias("rev_e4"))
    )
    delta_joined = delta.join(
        orders, delta.l_orderkey == orders.o_orderkey
    ).select("o_custkey", rev_e4.alias("rev_e4"))
    merged = M.merge_agg_state(
        state, delta_joined, keys=["o_custkey"], sum_cols=["rev_e4"]
    )
    return merged.select(
        "o_custkey",
        F.col("n").alias("n_lines"),
        (F.col("rev_e4") / 10000.0).alias("revenue"),
    )


AGG_JOIN_VIEW_ORACLE = """
SELECT o.o_custkey,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                * CAST(ROUND((1 - l.l_discount) * 100) AS BIGINT))
            AS DOUBLE) / 10000.0 AS revenue
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_custkey
"""


# ------------------------------------ A65 schema drift report (r6)
def schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A65 (r6): SCHEMA DRIFT classification — A32 proves compatible
    evolution (added columns backfill NULL); production feeds also
    drift INCOMPATIBLY (type changes, dropped columns), and mergeSchema
    then fails at read time with no actionable diff. This op DERIVES
    the drift report from two landed parquet generations' footers
    (metadata only, no data scan): per column — added / dropped /
    type_changed / unchanged, with the compatibility verdict the
    loader acts on (gate the feed, not the morning-after job). The
    generations are written in-plan (gen2 re-types o_totalprice to
    string, drops o_orderpriority, adds o_channel), so the Spark side
    must genuinely diff footers; the oracle pins the expected
    classification — the fk_merge_order precedent for metadata ops."""
    orders = load_table(spark, sf_dir, "orders")
    root = scratch_dir(spark, "drift_")
    orders.limit(10).write.mode("overwrite").parquet(f"{root}/gen1")
    (
        orders.limit(10)
        .withColumn("o_totalprice", F.col("o_totalprice").cast("string"))
        .drop("o_orderpriority")
        .withColumn("o_channel", F.lit("web"))
        .write.mode("overwrite")
        .parquet(f"{root}/gen2")
    )
    s1 = {f.name: f.dataType.simpleString() for f in read_parquet(spark, f"{root}/gen1").schema.fields}
    s2 = {f.name: f.dataType.simpleString() for f in read_parquet(spark, f"{root}/gen2").schema.fields}
    rows = []
    for c in sorted(set(s1) | set(s2)):
        if c not in s1:
            rows.append((c, "added", s2[c], True))
        elif c not in s2:
            rows.append((c, "dropped", s1[c], False))
        elif s1[c] != s2[c]:
            rows.append((c, "type_changed", f"{s1[c]}->{s2[c]}", False))
        else:
            rows.append((c, "unchanged", s1[c], True))
    return spark.createDataFrame(
        rows, "column string, change string, detail string, compatible boolean"
    )


SCHEMA_DRIFT_ORACLE = """
SELECT * FROM (VALUES
  ('o_channel', 'added', 'string', TRUE),
  ('o_custkey', 'unchanged', 'bigint', TRUE),
  ('o_orderdate', 'unchanged', 'timestamp_ntz', TRUE),
  ('o_orderkey', 'unchanged', 'bigint', TRUE),
  ('o_orderpriority', 'dropped', 'string', FALSE),
  ('o_orderstatus', 'unchanged', 'string', TRUE),
  ('o_totalprice', 'type_changed', 'double->string', FALSE)
) AS t("column", change, detail, compatible)
"""


# ---------------------------------------------------------------------------
# A66: org-rename partition invalidation (denormalized dim-drift rebuild)

_RENAME_SINCE = "2001-07-28 00:00:00"


def index_partition_rename_invalidation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dim-attribute drift invalidation: a partition whose documents
    embed a STALE org display name force-rebuilds even when no fact row
    changed — the reference's ``check_if_org_name_changed`` probes the
    partition's embedded ``schema_maintainer.schema_name`` against the
    org table and truncates + repopulates on mismatch
    (/root/reference/flows/arc_db_load_index_tables_flow.py:156-226,
    wired into the flow at :246-266). A31 (``index_partition_refresh``)
    keys only on post-since fact activity; this entry closes the general
    "denormalized view vs slowly-changing dimension" hole.

    Model: org partitions are keyed by a STABLE id (n_nationkey) with a
    display name (n_name) denormalized into every document. The
    pre-existing index state is the pre-since aggregate embedding the
    name as of build time — orgs with ``org_key % 7 = 3`` have since
    been renamed, so their embedded name (``<name> (legacy)``) no longer
    matches the dim. Detection is DATA-driven exactly as in the
    reference: a per-partition fingerprint (one embedded name per
    partition, the LIMIT-1 probe generalized to an aggregate) is
    compared against the current dim; mismatched partitions join the
    post-since fact-changed set and both rebuild from the full data
    embedding the CURRENT name, while untouched partitions pass their
    previous documents through byte-identical (state='kept'). With the
    since date chosen 4 days before the last order, renamed orgs 17 and
    24 have ZERO post-since activity — they rebuild purely on the name
    mismatch, which is the behavior A31 could never trigger.

    Scale shape: the fingerprint is one row per PARTITION (not per
    document — on a real store this is partition-level metadata), so
    rename detection costs O(partitions) and broadcasts; both rebuild
    and keep legs left-semi-filter members BEFORE aggregating, so
    refresh cost tracks the invalidated fraction, not the index size.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    with_org = cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
    ).select(
        "c_custkey",
        F.col("n_nationkey").alias("org_key"),
        F.col("n_name").alias("org_name"),
    )
    # Simulated prior build: the name denormalized into the docs at
    # build time; orgs 3,10,17,24 have been renamed in the dim since.
    legacy_name = F.when(
        F.col("org_key") % 7 == F.lit(3),
        F.concat(F.col("org_name"), F.lit(" (legacy)")),
    ).otherwise(F.col("org_name"))

    def doc_agg(o: DataFrame, members: DataFrame, name_col, state: str) -> DataFrame:
        agg = o.groupBy("o_custkey").agg(
            F.count("*").cast("bigint").alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
        return members.join(
            agg, members.c_custkey == agg.o_custkey, "left"
        ).select(
            "c_custkey",
            "org_key",
            name_col.alias("embedded_name"),
            F.coalesce("order_count", F.lit(0).cast("bigint")).alias("order_count"),
            F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
            F.lit(state).alias("state"),
        )

    prev_index = doc_agg(
        orders.filter(F.col("o_orderdate") <= _RENAME_SINCE),
        with_org,
        legacy_name,
        "kept",
    )
    # Partition fingerprint: every doc in a partition embeds the same
    # name, so MAX == the reference's LIMIT-1 probe, deterministically.
    fingerprints = prev_index.groupBy("org_key").agg(
        F.max("embedded_name").alias("embedded")
    )
    renamed = (
        fingerprints.join(
            F.broadcast(nat), fingerprints.org_key == nat.n_nationkey
        )
        .filter(F.col("embedded") != F.col("n_name"))
        .select("org_key")
    )
    fact_changed = (
        orders.filter(F.col("o_orderdate") > _RENAME_SINCE)
        .join(with_org, orders.o_custkey == with_org.c_custkey)
        .select("org_key")
        .distinct()
    )
    rebuild = renamed.unionByName(fact_changed).distinct()

    changed_members = with_org.join(F.broadcast(rebuild), "org_key", "left_semi")
    rebuilt = doc_agg(
        orders.join(
            changed_members.select("c_custkey"),
            orders.o_custkey == F.col("c_custkey"),
            "left_semi",
        ),
        changed_members,
        F.col("org_name"),
        "rebuilt",
    )
    kept = prev_index.join(F.broadcast(rebuild), "org_key", "left_anti")
    return rebuilt.unionByName(kept)


INDEX_RENAME_ORACLE = f"""
WITH with_org AS (
  SELECT c_custkey, n_nationkey AS org_key, n_name AS org_name
  FROM customer JOIN nation ON c_nationkey = n_nationkey
), prev AS (
  SELECT w.c_custkey, w.org_key,
         CASE WHEN w.org_key % 7 = 3 THEN w.org_name || ' (legacy)'
              ELSE w.org_name END AS embedded_name,
         CAST(COUNT(o.o_orderkey) AS BIGINT) AS order_count,
         ROUND(COALESCE(SUM(o.o_totalprice), 0), 2) AS total_spend,
         'kept' AS state
  FROM with_org w LEFT JOIN orders o
    ON o.o_custkey = w.c_custkey
   AND o.o_orderdate <= TIMESTAMP '{_RENAME_SINCE}'
  GROUP BY w.c_custkey, w.org_key, w.org_name
), renamed AS (
  SELECT f.org_key
  FROM (SELECT org_key, MAX(embedded_name) AS embedded
        FROM prev GROUP BY org_key) f
  JOIN nation n ON f.org_key = n.n_nationkey
  WHERE f.embedded <> n.n_name
), fact_changed AS (
  SELECT DISTINCT w.org_key
  FROM orders o JOIN with_org w ON o.o_custkey = w.c_custkey
  WHERE o.o_orderdate > TIMESTAMP '{_RENAME_SINCE}'
), rebuild AS (
  SELECT org_key FROM renamed UNION SELECT org_key FROM fact_changed
), rebuilt AS (
  SELECT w.c_custkey, w.org_key, w.org_name AS embedded_name,
         CAST(COUNT(o.o_orderkey) AS BIGINT) AS order_count,
         ROUND(COALESCE(SUM(o.o_totalprice), 0), 2) AS total_spend,
         'rebuilt' AS state
  FROM with_org w
  JOIN rebuild r ON w.org_key = r.org_key
  LEFT JOIN orders o ON o.o_custkey = w.c_custkey
  GROUP BY w.c_custkey, w.org_key, w.org_name
)
SELECT * FROM rebuilt
UNION ALL
SELECT * FROM prev
WHERE org_key NOT IN (SELECT org_key FROM rebuild)
"""


# ---------------------------------------------------------------------------
# A67: run a verbatim reference SPARQL file through the text compiler

# The nine production .sparql files are read VERBATIM from the public
# reference checkout at run time (never transcribed). The location is
# overridable for foreign checkouts/working directories:
#   REFERENCE_QUERY_DIR=/path/to/typescript/queries
def _reference_query_path(name: str) -> str:
    import os

    base = os.environ.get(
        "REFERENCE_QUERY_DIR", "/root/reference/typescript/queries"
    )
    return os.path.join(base, name)


class ReferenceUnavailable(FileNotFoundError):
    """A reference ``.sparql`` file is absent: the reference checkout is
    not mounted where ``REFERENCE_QUERY_DIR`` points."""


def load_reference_query(name: str) -> str:
    """The text of one reference query file, resolved against
    ``REFERENCE_QUERY_DIR`` when called. Raises ReferenceUnavailable,
    naming the file, when it is absent."""
    path = _reference_query_path(name)
    try:
        with open(path) as f:
            return f.read()
    except FileNotFoundError as e:
        raise ReferenceUnavailable(
            f"reference query {path} is absent; set REFERENCE_QUERY_DIR "
            f"to a checkout of the reference's typescript/queries"
        ) from e


_PERSON_SPARQL = "person.sparql"

_SQ_NS = {
    "org": "https://data.hetarchief.be/id/organization/",
    "ent": "https://data.hetarchief.be/id/entity/",
    "frg": "https://data.hetarchief.be/id/fragment/",
    "ann": "https://data.hetarchief.be/id/annotation/",
    "per": "https://data.hetarchief.be/id/person/",
    "plc": "https://data.hetarchief.be/id/place/",
    "haOrg": "https://data.hetarchief.be/ns/organization/",
    "haDes": "https://data.hetarchief.be/ns/description/",
    "haLicId": "https://data.hetarchief.be/id/license/",
    "w3org": "http://www.w3.org/ns/org#",
    "schema": "https://schema.org/",
    "prov": "http://www.w3.org/ns/prov#",
    "ebucore": "http://www.ebu.ch/metadata/ontologies/ebucore/ebucore#",
    "rel": "http://id.loc.gov/vocabulary/preservation/relationshipSubType/",
    "g_org": "https://data.hetarchief.be/graph/organization",
    "g_nl": "https://data.hetarchief.be/graph/namenlijst",
    "g_md": "https://data.hetarchief.be/graph/metadata/",
}
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

# o_orderkey % 9 indexes the entity type; only the first 7 are in the
# query's VALUES list. o_orderkey % 11 indexes the license; only the
# first 9 are in the query's FILTER IN list.
_SQ_IE_TYPES = [
    "Audio", "Video", "Film", "DVD", "DVDChapter", "NewspaperIssue",
    "NewspaperIssuePage", "Episode", "Newspaper",
]
_SQ_LICENSES = [
    "VIAA-PUBLIEK-METADATA-LTD", "VIAA-PUBLIEK-METADATA-ALL",
    "VIAA-PUBLIEK-CONTENT", "BEZOEKERTOOL-METADATA-ALL",
    "BEZOEKERTOOL-CONTENT", "VIAA-INTRA_CP-METADATA-ALL",
    "VIAA-INTRA_CP-CONTENT", "Publiek-Domein", "COPYRIGHT-UNDETERMINED",
    "VIAA-ONDERWIJS", "VIAA-ONDERZOEK",
]


def _sq_pick(options: list[str], idx_col) -> Column:
    return F.element_at(
        F.array(*[F.lit(o) for o in options]), (idx_col + 1).cast("int")
    )


@_staged_by_predicate("sparql_person_v6", ("customer", "nation", "orders"))
def _sparql_person_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quad store shaped for person.sparql's WHERE graph:
    orgs (ContentPartner or not) in graph:organization; per-org metadata
    graphs holding typed IEs with licenses (direct OR via the rel:isp
    hop — both alternation branches), maintainer and the
    prov:wasDerivedFrom/schema:dateModified chain; persons, mentions
    (MediaFragment geometry) and TextAnnotations in graph:namenlijst
    with nl/en language-tagged names and the optional confidence.

    Built in ONE pass per source table: each row emits its quads via
    ``inline(array(struct(...)))`` — a scan-fused generator, no
    per-quad scans — then staged as predicate-partitioned parquet
    (``_staged_by_predicate``) so every
    BGP pattern scan partition-prunes to its posting list."""
    ns = _SQ_NS

    def as_col(x):
        return x if isinstance(x, Column) else F.lit(x)

    def quad(s, p, o, lang=None, graph=None):
        return F.struct(
            as_col(s).cast("string").alias("subject"),
            F.lit(p).alias("predicate"),
            as_col(o).cast("string").alias("object"),
            as_col(lang).cast("string").alias("lang"),
            as_col(graph).cast("string").alias("graph"),
        )

    nat = load_table(spark, sf_dir, "nation")
    org_iri = F.concat(F.lit(ns["org"] + "OR-"), F.col("n_nationkey").cast("string"))
    org_type = F.when(
        F.col("n_nationkey") % 5 != 4, F.lit(ns["haOrg"] + "ContentPartner")
    ).otherwise(F.lit(ns["haOrg"] + "Organization"))
    org_quads = nat.select(
        F.inline(
            F.array(
                quad(org_iri, _RDF_TYPE, org_type, graph=ns["g_org"]),
                quad(
                    org_iri,
                    ns["w3org"] + "identifier",
                    F.concat(F.lit("OR-"), F.col("n_nationkey").cast("string")),
                    graph=ns["g_org"],
                ),
            )
        )
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    base = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "o_orderdate", "c_custkey", "c_nationkey"
    )
    k = F.col("o_orderkey")
    ie = F.concat(F.lit(ns["ent"]), k.cast("string"))
    rep = F.concat(ie, F.lit("/rep"))
    prov_node = F.concat(ie, F.lit("/prov"))
    mention = F.concat(F.lit(ns["frg"]), k.cast("string"))
    ann = F.concat(F.lit(ns["ann"]), k.cast("string"))
    person = F.concat(F.lit(ns["per"]), F.col("c_custkey").cast("string"))
    md_graph = F.concat(
        F.lit(ns["g_md"] + "OR-"), F.col("c_nationkey").cast("string")
    )
    lic = F.concat(F.lit(ns["haLicId"]), _sq_pick(_SQ_LICENSES, k % 11))
    ie_type = F.concat(F.lit(ns["haDes"]), _sq_pick(_SQ_IE_TYPES, k % 9))
    even = (k % 2) == 0
    order_quads = base.select(
        F.inline(
            F.array(
                quad(ie, _RDF_TYPE, ie_type, graph=md_graph),
                quad(ie, ns["schema"] + "license", F.when(even, lic), graph=md_graph),
                quad(ie, ns["rel"] + "isp", F.when(~even, rep), graph=md_graph),
                quad(rep, ns["schema"] + "license", F.when(~even, lic), graph=md_graph),
                quad(ie, ns["schema"] + "maintainer",
                     F.concat(F.lit(ns["org"] + "OR-"), F.col("c_nationkey").cast("string")),
                     graph=md_graph),
                quad(ie, ns["prov"] + "wasDerivedFrom", prov_node, graph=md_graph),
                quad(prov_node, ns["schema"] + "dateModified",
                     F.col("o_orderdate").cast("string"), graph=md_graph),
                quad(ie, ns["schema"] + "mentions", person, graph=ns["g_nl"]),
                quad(mention, _RDF_TYPE, ns["ebucore"] + "MediaFragment", graph=ns["g_nl"]),
                quad(mention, ns["ebucore"] + "isMediaFragmentOf", ie, graph=ns["g_nl"]),
                quad(mention, ns["ebucore"] + "width", (k % 640 + 1), graph=ns["g_nl"]),
                quad(mention, ns["ebucore"] + "height", (k % 480 + 1), graph=ns["g_nl"]),
                quad(mention, ns["ebucore"] + "regionDelimX", (k % 100), graph=ns["g_nl"]),
                quad(mention, ns["ebucore"] + "regionDelimY", (k % 120), graph=ns["g_nl"]),
                quad(ann, _RDF_TYPE, ns["ebucore"] + "TextAnnotation", graph=ns["g_nl"]),
                quad(ann, ns["ebucore"] + "hasAnnotationRelatedAgent", person, graph=ns["g_nl"]),
                quad(ann, ns["ebucore"] + "isAnnotatedMediaResource", mention, graph=ns["g_nl"]),
                quad(ann, ns["ebucore"] + "annotationConfidence",
                     F.when(k % 3 == 0,
                            F.concat(F.lit("0."), F.lpad((k % 100).cast("string"), 2, "0"))),
                     graph=ns["g_nl"]),
            )
        )
    )

    c = F.col("c_custkey")
    cperson = F.concat(F.lit(ns["per"]), c.cast("string"))
    place_b = F.concat(F.lit(ns["plc"] + "b/"), c.cast("string"))
    place_d = F.concat(F.lit(ns["plc"] + "d/"), c.cast("string"))
    person_quads = cust.select(
        F.inline(
            F.array(
                quad(cperson, _RDF_TYPE, ns["schema"] + "Person", graph=ns["g_nl"]),
                quad(cperson, ns["schema"] + "name", F.col("c_name"),
                     lang=F.when(c % 4 != 1, F.lit("nl")).otherwise(F.lit("en")),
                     graph=ns["g_nl"]),
                quad(cperson, ns["schema"] + "birthDate",
                     F.when(c % 3 == 0,
                            F.concat((F.lit(1900) + c % 80).cast("string"), F.lit("-01-01"))),
                     graph=ns["g_nl"]),
                quad(cperson, ns["schema"] + "deathDate",
                     F.when(c % 5 == 0,
                            F.concat((F.lit(1940) + c % 60).cast("string"), F.lit("-06-15"))),
                     graph=ns["g_nl"]),
                quad(cperson, ns["schema"] + "birthPlace",
                     F.when(c % 6 == 0, place_b), graph=ns["g_nl"]),
                quad(place_b, ns["schema"] + "name",
                     F.when(c % 6 == 0,
                            F.concat(F.lit("Borough "), (c % 50).cast("string"))),
                     graph=ns["g_nl"]),
                quad(cperson, ns["schema"] + "deathPlace",
                     F.when(c % 7 == 0, place_d), graph=ns["g_nl"]),
                quad(place_d, ns["schema"] + "name",
                     F.when(c % 7 == 0,
                            F.concat(F.lit("Cemetery "), (c % 40).cast("string"))),
                     graph=ns["g_nl"]),
            )
        )
    )

    # v2: newspaper-collection (graph:anet) and IIIF (metadata/post)
    # extensions — the shared required block (typed + licensed ies with
    # the prov chain) serves three verbatim queries from one store.
    # No person.sparql crosstalk: the new predicates/graphs match none
    # of its patterns (verified by the unchanged A67 oracle).
    g_anet = "https://data.hetarchief.be/graph/anet"
    g_post = ns["g_md"] + "post"
    coll_pre = "https://anet.be/record/opacbnc/c"
    coll_na = "https://anet.be/record/opacbnc/#N/A/N"
    cnum = k % 37
    coll = F.when(cnum == 13, F.lit(coll_na)).otherwise(
        F.concat(F.lit(coll_pre), cnum.cast("string"))
    )
    iiif_rep = F.concat(ie, F.lit("/iiif"))
    iiif_file = F.concat(iiif_rep, F.lit("/file"))
    iiif_file2 = F.concat(iiif_rep, F.lit("/file2"))
    iiif_loc = F.concat(iiif_file, F.lit("/loc"))
    iiif_loc2 = F.concat(iiif_file2, F.lit("/loc"))
    is_news = (k % 9 == 5) | (k % 9 == 6)
    has_iiif = is_news & (k % 2 == 0)
    haObj = "https://data.hetarchief.be/ns/object/"
    premis = "http://www.loc.gov/premis/rdf/v3/"
    edm = "http://www.europeana.eu/schemas/edm/"
    rdfv = "http://www.w3.org/1999/02/22-rdf-syntax-ns#value"
    news_quads = base.select(
        F.inline(
            F.array(
                quad(ie, ns["schema"] + "isPartOf",
                     F.when(is_news, coll), graph=md_graph),
                # IIIF representation + files in the fixed post graph
                quad(iiif_rep, _RDF_TYPE,
                     F.when(has_iiif, F.lit(haObj + "DigitalRepresentation")),
                     graph=g_post),
                quad(ie, haObj + "hasIIIFCopy",
                     F.when(has_iiif, iiif_rep), graph=g_post),
                quad(iiif_rep, ns["schema"] + "name",
                     F.when(has_iiif,
                            F.concat(F.lit("IIIF weergave "), (k % 5).cast("string"))),
                     lang="nl", graph=g_post),
                quad(iiif_rep, ns["schema"] + "name",
                     F.when(has_iiif & (k % 4 == 0),
                            F.concat(F.lit("IIIF view "), (k % 5).cast("string"))),
                     lang="en", graph=g_post),
                quad(iiif_file, _RDF_TYPE,
                     F.when(has_iiif, F.lit(premis + "File")), graph=g_post),
                quad(iiif_file, ns["schema"] + "name",
                     F.when(has_iiif,
                            F.concat(F.lit("pagina "), (k % 7).cast("string"))),
                     lang="nl", graph=g_post),
                quad(iiif_file, premis + "originalName",
                     F.when(has_iiif,
                            F.concat(F.lit("scan_"), k.cast("string"), F.lit(".jp2"))),
                     graph=g_post),
                quad(iiif_file, premis + "storedAt",
                     F.when(has_iiif, iiif_loc), graph=g_post),
                quad(iiif_loc, rdfv,
                     F.when(has_iiif, F.concat(F.lit("s3://iiif/"), k.cast("string"))),
                     graph=g_post),
                quad(iiif_file, ns["rel"] + "isi",
                     F.when(has_iiif, iiif_rep), graph=g_post),
                quad(iiif_file, ns["ebucore"] + "hasMimeType",
                     F.when(has_iiif, F.lit("image/jp2")), graph=g_post),
                # a sibling file with a non-jp2 mime: VALUES must drop it
                quad(iiif_file2, _RDF_TYPE,
                     F.when(has_iiif & (k % 6 == 0), F.lit(premis + "File")),
                     graph=g_post),
                quad(iiif_file2, ns["schema"] + "name",
                     F.when(has_iiif & (k % 6 == 0), F.lit("master tiff")),
                     lang="nl", graph=g_post),
                quad(iiif_file2, premis + "originalName",
                     F.when(has_iiif & (k % 6 == 0),
                            F.concat(F.lit("scan_"), k.cast("string"), F.lit(".tif"))),
                     graph=g_post),
                quad(iiif_file2, premis + "storedAt",
                     F.when(has_iiif & (k % 6 == 0), iiif_loc2), graph=g_post),
                quad(iiif_loc2, rdfv,
                     F.when(has_iiif & (k % 6 == 0),
                            F.concat(F.lit("s3://tiff/"), k.cast("string"))),
                     graph=g_post),
                quad(iiif_file2, ns["rel"] + "isi",
                     F.when(has_iiif & (k % 6 == 0), iiif_rep), graph=g_post),
                quad(iiif_file2, ns["ebucore"] + "hasMimeType",
                     F.when(has_iiif & (k % 6 == 0), F.lit("image/tiff")),
                     graph=g_post),
                # optional rep/file attributes
                quad(iiif_rep, ns["schema"] + "inLanguage",
                     F.when(has_iiif & (k % 10 == 0), F.lit("nl")), graph=g_post),
                quad(iiif_rep, ns["rel"] + "hsr",
                     F.when(has_iiif & (k % 10 == 2),
                            F.concat(F.lit("urn:hsr:"), k.cast("string"))), graph=g_post),
                quad(iiif_rep, ns["rel"] + "hss",
                     F.when(has_iiif & (k % 10 == 4),
                            F.concat(F.lit("urn:hss:"), k.cast("string"))), graph=g_post),
                quad(iiif_rep, edm + "isNextInSequence",
                     F.when(has_iiif & (k % 10 == 6),
                            F.concat(F.lit("urn:prev:"), k.cast("string"))), graph=g_post),
                quad(iiif_rep, ns["schema"] + "caption",
                     F.when(has_iiif & (k % 10 == 8),
                            F.concat(F.lit("urn:cap:"), k.cast("string"))), graph=g_post),
                quad(iiif_rep, ns["schema"] + "transcript",
                     F.when(has_iiif & (k % 20 == 0),
                            F.concat(F.lit("transcript "), (k % 11).cast("string"))),
                     graph=g_post),
                quad(iiif_file, edm + "isNextInSequence",
                     F.when(has_iiif & (k % 14 == 0),
                            F.concat(F.lit("urn:fprev:"), k.cast("string"))), graph=g_post),
                quad(iiif_file, ns["schema"] + "thumbnailUrl",
                     F.when(has_iiif & (k % 14 == 2),
                            F.concat(F.lit("https://t/"), k.cast("string"))), graph=g_post),
                quad(iiif_file, ns["schema"] + "duration",
                     F.when(has_iiif & (k % 14 == 4),
                            F.concat(F.lit("PT"), (k % 60).cast("string"), F.lit("S"))),
                     graph=g_post),
            )
        )
    )

    # graph:anet newspaper collections (37 of them, one per coll id)
    colls = spark.range(37).select(F.col("id").alias("c"))
    cc = F.col("c")
    coll_iri = F.when(cc == 13, F.lit(coll_na)).otherwise(
        F.concat(F.lit(coll_pre), cc.cast("string"))
    )
    serie = F.concat(F.lit("https://anet.be/record/serie/s"), cc.cast("string"))
    loc_node = F.concat(serie, F.lit("/loc"))
    pub_node = F.concat(serie, F.lit("/pub"))
    anet_quads = colls.select(
        F.inline(
            F.array(
                quad(coll_iri, _RDF_TYPE, ns["schema"] + "Newspaper", graph=g_anet),
                quad(coll_iri, ns["schema"] + "name",
                     F.concat(F.lit("Krant "), cc.cast("string")), graph=g_anet),
                quad(coll_iri, ns["schema"] + "identifier",
                     F.concat(F.lit("bnc-"), cc.cast("string")), graph=g_anet),
                quad(coll_iri, ns["schema"] + "hasPart", serie, graph=g_anet),
                quad(coll_iri, ns["schema"] + "inLanguage",
                     F.when(cc % 2 == 1, F.lit("nl")), graph=g_anet),
                quad(coll_iri, ns["schema"] + "alternateName",
                     F.when(cc % 5 == 2, F.concat(F.lit("De Krant "), cc.cast("string"))),
                     graph=g_anet),
                quad(serie, ns["schema"] + "locationCreated",
                     F.when(cc % 2 == 0, loc_node), graph=g_anet),
                quad(loc_node, ns["schema"] + "name",
                     F.when(cc % 2 == 0, F.concat(F.lit("Gent-"), cc.cast("string"))),
                     lang="nl", graph=g_anet),
                quad(loc_node, ns["schema"] + "name",
                     F.when(cc % 4 == 0, F.concat(F.lit("Ghent-"), cc.cast("string"))),
                     lang="en", graph=g_anet),
                quad(serie, ns["schema"] + "endDate",
                     F.when(cc % 3 == 0, F.concat(F.lit("19"), (cc + 10).cast("string"), F.lit("-12-31"))),
                     graph=g_anet),
                quad(serie, ns["schema"] + "startDate",
                     F.when(cc % 3 == 1, F.concat(F.lit("18"), (cc + 50).cast("string"), F.lit("-01-01"))),
                     graph=g_anet),
                quad(serie, ns["schema"] + "publisher",
                     F.when(cc % 5 == 0, pub_node), graph=g_anet),
                quad(pub_node, ns["schema"] + "name",
                     F.when(cc % 5 == 0, F.concat(F.lit("Uitgever "), cc.cast("string"))),
                     lang="nl", graph=g_anet),
            )
        )
    )

    # v3: newspaper.sparql issue/page detail entities — the full
    # attribute surface its 40+ union branches scan, all inside the
    # owning ORGraph (plus graph:thesauri labels). Gated on is_news so
    # the store stays lean; negative rows (wrong-language literals, a
    # disallowed mime, a LocalIdentifier) pin the query's FILTERs.
    # No crosstalk: person/newspaper-collection/iiif scan none of these
    # predicates, and the new rdf:types are outside every VALUES list.
    dct = "http://purl.org/dc/terms/"
    mh = "https://data.hetarchief.be/ns/mediahaven/"
    bf = "http://id.loc.gov/ontologies/bibframe/"
    skos = "http://www.w3.org/2004/02/skos/core#"
    eror = "http://id.loc.gov/vocabulary/preservation/eventRelatedObjectRole/"
    haEvt = "https://data.hetarchief.be/id/event-type/"
    g_thes = "https://data.hetarchief.be/graph/thesauri"
    idb = "https://data.hetarchief.be/id/"
    sch = ns["schema"]
    ebu = ns["ebucore"]
    haD = ns["haDes"]
    w = F.when
    idn = F.concat(F.lit(idb + "identifier/"), k.cast("string"))
    hc = F.concat(F.lit(idb + "holder/"), k.cast("string"))
    bec = F.concat(F.lit(idb + "edition/e"), k.cast("string"))
    role_n = F.concat(ie, F.lit("/role"))
    thing_n = F.concat(F.lit(idb + "thing/t"), k.cast("string"))
    coll2 = F.concat(F.lit(idb + "collection/c"), (k % 29).cast("string"))
    crep = F.concat(ie, F.lit("/crep"))
    pc = F.concat(ie, F.lit("/pc"))
    medium_n = F.concat(F.lit(idb + "medium/m"), (k % 4).cast("string"))
    pm_n = F.concat(F.lit(idb + "pm/"), (k % 3).cast("string"))
    ev_n = F.concat(ie, F.lit("/ev"))
    h_n = F.concat(ie, F.lit("/h"))
    w_n = F.concat(ie, F.lit("/w"))
    cap_n = F.concat(ie, F.lit("/cap"))
    drep = F.concat(ie, F.lit("/drep"))
    dfile = F.concat(ie, F.lit("/dfile"))
    floc = F.concat(dfile, F.lit("/loc"))
    spat_n = F.concat(ie, F.lit("/spat"))
    role_pred = _sq_pick(
        [sch + "creator", sch + "contributor", sch + "publisher"], k % 3
    )
    nl_unless = lambda cond: w(cond, F.lit("en")).otherwise(F.lit("nl"))  # noqa: E731
    issue_quads = base.filter(k % 9 < 7).select(
        F.inline(
            F.array(
                # required block
                quad(ie, sch + "identifier",
                     F.concat(F.lit("id-"), k.cast("string")), graph=md_graph),
                quad(ie, sch + "name",
                     F.concat(F.lit("Uitgave "), (k % 61).cast("string")),
                     lang="nl", graph=md_graph),
                quad(ie, dct + "format",
                     _sq_pick(["audio", "video", "film", "dvd", "dvdchapter",
                               "newspaper", "newspaperpage"], k % 9),
                     graph=md_graph),
                quad(prov_node, _RDF_TYPE, mh + "Fragment", graph=md_graph),
                quad(prov_node, sch + "identifier",
                     F.concat(F.lit("frag-"), k.cast("string")), graph=md_graph),
                # single-attribute unions (+ wrong-language negatives)
                quad(ie, sch + "alternateName",
                     w(k % 5 == 2, F.concat(F.lit("Alt "), (k % 19).cast("string"))),
                     lang="nl", graph=md_graph),
                quad(ie, sch + "alternateName",
                     w(k % 5 == 4, F.concat(F.lit("Alt EN "), k.cast("string"))),
                     lang="en", graph=md_graph),
                quad(ie, sch + "inLanguage",
                     w(k % 7 == 6, _sq_pick(["nl", "fr", "de"], k % 3)),
                     graph=md_graph),
                quad(ie, sch + "keywords",
                     w(k % 13 == 2, F.concat(F.lit("kw-"), (k % 11).cast("string"))),
                     graph=md_graph),
                quad(ie, sch + "genre",
                     w(k % 13 == 4, F.concat(F.lit("genre-"), (k % 7).cast("string"))),
                     graph=md_graph),
                quad(ie, sch + "spatial", w(k % 7 == 1, spat_n), graph=md_graph),
                quad(spat_n, sch + "name",
                     w(k % 7 == 1, F.concat(F.lit("Plaats "), (k % 23).cast("string"))),
                     graph=md_graph),
                quad(ie, sch + "temporal",
                     w(k % 7 == 3, F.concat(F.lit("jaren "), (k % 10).cast("string"), F.lit("0"))),
                     graph=md_graph),
                quad(ie, sch + "dateCreated",
                     w(k % 7 == 2, F.concat(F.lit("18"), (k % 40 + 50).cast("string"), F.lit("-03-01"))),
                     graph=md_graph),
                quad(ie, haD + "minDateCreated",
                     w((k % 7 == 2) & (k % 5 < 2),
                       F.concat(F.lit("18"), (k % 40 + 50).cast("string"), F.lit("-01-01"))),
                     graph=md_graph),
                quad(ie, haD + "maxDateCreated",
                     w((k % 7 == 2) & (k % 5 >= 3),
                       F.concat(F.lit("18"), (k % 40 + 50).cast("string"), F.lit("-12-31"))),
                     graph=md_graph),
                quad(ie, sch + "datePublished",
                     w(k % 7 == 5, F.concat(F.lit("19"), (k % 80 + 10).cast("string"), F.lit("-06-01"))),
                     graph=md_graph),
                quad(ie, haD + "minDatePublished",
                     w((k % 7 == 5) & (k % 5 < 2),
                       F.concat(F.lit("19"), (k % 80 + 10).cast("string"), F.lit("-01-01"))),
                     graph=md_graph),
                quad(ie, haD + "maxDatePublished",
                     w((k % 7 == 5) & (k % 5 >= 3),
                       F.concat(F.lit("19"), (k % 80 + 10).cast("string"), F.lit("-12-31"))),
                     graph=md_graph),
                quad(ie, sch + "description",
                     w(k % 5 == 1, F.concat(F.lit("Beschrijving "), (k % 31).cast("string"))),
                     lang="nl", graph=md_graph),
                quad(ie, sch + "description",
                     w(k % 15 == 13, F.concat(F.lit("Description "), (k % 31).cast("string"))),
                     lang="en", graph=md_graph),
                quad(ie, sch + "abstract",
                     w(k % 5 == 3, F.concat(F.lit("Samenvatting "), (k % 17).cast("string"))),
                     lang="nl", graph=md_graph),
                quad(ie, sch + "abstract",
                     w(k % 15 == 2, F.concat(F.lit("Abstract "), (k % 17).cast("string"))),
                     lang="en", graph=md_graph),
                # premis identifiers (primary / replaceable / local)
                quad(ie, haObj + "primaryIdentifier",
                     w((k % 5 == 0) & (k % 3 == 0), idn), graph=md_graph),
                quad(ie, premis + "identifier",
                     w(k % 5 == 0, idn), graph=md_graph),
                quad(idn, _RDF_TYPE,
                     w(k % 5 == 0, F.concat(
                         F.lit(haObj),
                         _sq_pick(["PrimaryIdentifier", "MeemooIdentifier",
                                   "LocalIdentifier"], k % 3))),
                     graph=md_graph),
                quad(idn, rdfv, w(k % 5 == 0, F.concat(F.lit("pid-"), k.cast("string"))),
                     graph=md_graph),
                quad(ie, haD + "pageNumber",
                     w(k % 9 == 6, (k % 50).cast("string")), graph=md_graph),
                quad(ie, haD + "numberOfPages",
                     w(k % 9 == 5, (k % 40 + 1).cast("string")), graph=md_graph),
                quad(ie, sch + "issueNumber",
                     w(k % 8 == 3, F.concat(F.lit("nr. "), (k % 99).cast("string"))),
                     graph=md_graph),
                quad(ie, dct + "available",
                     w(k % 5 == 4, F.concat((k % 25 + 2000).cast("string"), F.lit("-05-05"))),
                     graph=md_graph),
                quad(ie, ebu + "hasObjectType", w(k % 13 == 1, F.lit("krant")),
                     graph=md_graph),
                quad(ie, ebu + "hasCastMember",
                     w(k % 17 == 2, F.concat(F.lit("Cast "), (k % 9).cast("string"))),
                     graph=md_graph),
                quad(ie, sch + "copyrightYear",
                     w(k % 5 == 2, (k % 90 + 1900).cast("string")), graph=md_graph),
                quad(ie, sch + "copyrightNotice",
                     w(k % 13 == 3, F.concat(F.lit("copyright "), (k % 5).cast("string"))),
                     graph=md_graph),
                quad(ie, dct + "rights",
                     w(k % 13 == 5, F.concat(F.lit("rechten "), (k % 4).cast("string"))),
                     graph=md_graph),
                quad(ie, sch + "creditText",
                     w(k % 13 == 7, F.concat(F.lit("Credit "), (k % 6).cast("string"))),
                     graph=md_graph),
                quad(ie, ebu + "synopsis",
                     w(k % 13 == 9, F.concat(F.lit("Synopsis "), (k % 21).cast("string"))),
                     graph=md_graph),
                # copyright holder: thesauri label XOR org-graph name
                quad(ie, sch + "copyrightHolder", w(k % 4 == 2, hc), graph=md_graph),
                quad(hc, skos + "prefLabel",
                     w(k % 8 == 2, F.concat(F.lit("Holder T "), (k % 15).cast("string"))),
                     lang="nl", graph=g_thes),
                quad(hc, sch + "name",
                     w(k % 8 == 6, F.concat(F.lit("Holder N "), (k % 15).cast("string"))),
                     graph=md_graph),
                # bf:edition via thesauri (en-labelled negative)
                quad(ie, bf + "edition", w(k % 11 == 4, bec), graph=md_graph),
                quad(bec, skos + "prefLabel",
                     w(k % 11 == 4, F.concat(F.lit("Editie "), (k % 6).cast("string"))),
                     lang=nl_unless(k % 22 == 15), graph=g_thes),
                # roles & things
                quad(ie, role_pred, w(k % 4 < 3, role_n), graph=md_graph),
                quad(role_n, _RDF_TYPE, w(k % 4 < 3, F.lit(sch + "Role")),
                     graph=md_graph),
                quad(role_n, sch + "roleName",
                     w(k % 4 < 3, F.concat(F.lit("rol "), (k % 5).cast("string"))),
                     graph=md_graph),
                quad(role_n, role_pred, w(k % 4 < 3, thing_n), graph=md_graph),
                quad(thing_n, _RDF_TYPE, w(k % 4 < 3, F.lit(sch + "Thing")),
                     graph=md_graph),
                quad(thing_n, sch + "name",
                     w(k % 4 < 3, F.concat(F.lit("Maker "), (k % 33).cast("string"))),
                     graph=md_graph),
                # org-local collections (typed nodes seeded distinctly below)
                quad(ie, sch + "isPartOf", w(k % 7 == 0, coll2), graph=md_graph),
                # carrier chain (en-named negative at k%12==9)
                quad(ie, ns["rel"] + "isr", w(k % 6 == 3, crep), graph=md_graph),
                quad(crep, _RDF_TYPE,
                     w(k % 6 == 3, F.lit(haObj + "CarrierRepresentation")),
                     graph=md_graph),
                quad(crep, premis + "storedAt",
                     w(k % 6 == 3, pc), graph=md_graph),
                quad(pc, _RDF_TYPE,
                     w(k % 6 == 3, F.lit(haObj + "PhysicalCarrier")),
                     graph=md_graph),
                quad(pc, sch + "name",
                     w(k % 6 == 3, F.concat(F.lit("Drager "), (k % 12).cast("string"))),
                     lang=nl_unless(k % 12 == 9), graph=md_graph),
                quad(pc, "http://www.loc.gov/premis/rdf/v3/medium",
                     w(k % 6 == 3, medium_n), graph=md_graph),
                quad(crep, bf + "productionMethod",
                     w((k % 6 == 3) & (k % 5 == 0), pm_n), graph=md_graph),
                quad(pc, sch + "identifier",
                     w((k % 6 == 3) & (k % 7 == 1),
                       F.concat(F.lit("carr-"), k.cast("string"))), graph=md_graph),
                quad(ev_n, _RDF_TYPE,
                     w((k % 6 == 3) & (k % 5 == 1), F.lit(haEvt + "digitization")),
                     graph=md_graph),
                quad(ev_n, eror + "sou", w((k % 6 == 3) & (k % 5 == 1), pc),
                     graph=md_graph),
                quad(ev_n, ns["prov"] + "startedAtTime",
                     w((k % 6 == 3) & (k % 5 == 1),
                       F.concat((k % 8 + 2015).cast("string"), F.lit("-02-02"))),
                     graph=md_graph),
                quad(pc, sch + "height", w((k % 6 == 3) & (k % 4 == 3), h_n),
                     graph=md_graph),
                quad(h_n, sch + "value",
                     w((k % 6 == 3) & (k % 4 == 3), (k % 300).cast("string")),
                     graph=md_graph),
                quad(h_n, sch + "unitText",
                     w((k % 6 == 3) & (k % 4 == 3), F.lit("mm")), graph=md_graph),
                quad(pc, sch + "width", w((k % 6 == 3) & (k % 5 == 2), w_n),
                     graph=md_graph),
                quad(w_n, sch + "value",
                     w((k % 6 == 3) & (k % 5 == 2), (k % 200).cast("string")),
                     graph=md_graph),
                quad(w_n, sch + "unitText",
                     w((k % 6 == 3) & (k % 5 == 2), F.lit("mm")), graph=md_graph),
                quad(pc, sch + "materialExtent",
                     w((k % 6 == 3) & (k % 5 == 3),
                       F.concat(F.lit("dozen "), (k % 4).cast("string"))),
                     graph=md_graph),
                quad(pc, sch + "material",
                     w((k % 6 == 3) & (k % 5 == 4), F.lit("papier")), graph=md_graph),
                quad(pc, ebu + "hasCaptioning",
                     w((k % 6 == 3) & ((k % 5 == 2) | (k % 5 == 4)), cap_n),
                     graph=md_graph),
                quad(cap_n, _RDF_TYPE,
                     w((k % 6 == 3) & ((k % 5 == 2) | (k % 5 == 4)),
                       w(k % 10 == 7, F.lit(ebu + "OpenCaptions"))
                       .otherwise(ebu + "ClosedCaptions")),
                     graph=md_graph),
                # digital representation + file (mime/language negatives)
                quad(drep, _RDF_TYPE,
                     w(k % 8 == 7, F.lit(haObj + "DigitalRepresentation")),
                     graph=md_graph),
                quad(drep,
                     w(k % 16 == 7,
                       F.lit(haObj + "isAccessCopyOf"))
                     .otherwise(haObj + "isTranscriptionCopyOf"),
                     w(k % 8 == 7, ie), graph=md_graph),
                quad(drep, sch + "name",
                     w(k % 8 == 7, F.concat(F.lit("Weergave "), (k % 5).cast("string"))),
                     lang=nl_unless(k % 24 == 23), graph=md_graph),
                quad(drep, sch + "inLanguage",
                     w((k % 8 == 7) & (k % 5 == 1), F.lit("nl")), graph=md_graph),
                quad(drep, ns["rel"] + "hsr",
                     w((k % 8 == 7) & (k % 5 == 2),
                       F.concat(F.lit("urn:hsr2:"), k.cast("string"))), graph=md_graph),
                quad(drep, ns["rel"] + "hss",
                     w((k % 8 == 7) & (k % 5 == 3),
                       F.concat(F.lit("urn:hss2:"), k.cast("string"))), graph=md_graph),
                quad(drep, edm + "isNextInSequence",
                     w((k % 8 == 7) & (k % 13 == 5),
                       F.concat(F.lit("urn:rprev:"), k.cast("string"))), graph=md_graph),
                quad(drep, sch + "caption",
                     w((k % 8 == 7) & (k % 13 == 7),
                       F.concat(F.lit("urn:rcap:"), k.cast("string"))), graph=md_graph),
                quad(drep, sch + "transcript",
                     w((k % 8 == 7) & (k % 13 == 9),
                       F.concat(F.lit("tr "), (k % 9).cast("string"))), graph=md_graph),
                quad(dfile, _RDF_TYPE,
                     w(k % 8 == 7, F.lit(premis + "File")),
                     graph=md_graph),
                quad(dfile, sch + "name",
                     w(k % 8 == 7, F.concat(F.lit("bestand "), (k % 7).cast("string"))),
                     lang="nl", graph=md_graph),
                quad(dfile, premis + "originalName",
                     w(k % 8 == 7, F.concat(F.lit("orig_"), k.cast("string"), F.lit(".jp2"))),
                     graph=md_graph),
                quad(dfile, premis + "storedAt",
                     w(k % 8 == 7, floc), graph=md_graph),
                quad(floc, rdfv,
                     w(k % 8 == 7, F.concat(F.lit("s3://np/"), k.cast("string"))),
                     graph=md_graph),
                quad(dfile, ns["rel"] + "isi", w(k % 8 == 7, drep), graph=md_graph),
                quad(dfile, ebu + "hasMimeType",
                     w(k % 8 == 7,
                       _sq_pick(["image/jpeg", "application/xml", "image/jp2",
                                 "text/plain", "image/tiff"], k % 5)),
                     graph=md_graph),
                quad(dfile, edm + "isNextInSequence",
                     w((k % 8 == 7) & (k % 7 == 1),
                       F.concat(F.lit("urn:fprev2:"), k.cast("string"))), graph=md_graph),
                quad(dfile, sch + "thumbnailUrl",
                     w((k % 8 == 7) & (k % 7 == 3),
                       F.concat(F.lit("https://t2/"), k.cast("string"))), graph=md_graph),
                quad(dfile, sch + "duration",
                     w((k % 8 == 7) & (k % 7 == 5),
                       F.concat(F.lit("PT"), (k % 60).cast("string"), F.lit("S"))),
                     graph=md_graph),
            )
        )
    )

    # v4: AV detail entities for av-audio/av-video/av-complex.sparql.
    # The av queries accept ONLY direct licenses (schema:license with no
    # rel:isp path), i.e. EVEN keys — so these carriers/reps/files are
    # gated even with even-friendly residues (the newspaper-gated ones
    # above sit on odd residues and are invisible to av quals). Reel
    # second-types + graph:ontologies labels, coloring types, fragment
    # representations with media-fragment file links, and peak-file
    # chains (rel:isi/rel:inc with a contains()-negative sibling) cover
    # the av-only grammar.
    rdfs = "http://www.w3.org/2000/01/rdf-schema#"
    g_ont = "https://data.hetarchief.be/graph/ontologies"
    is_av = k % 9 < 5
    even_k = (k % 2) == 0
    adrep = F.concat(ie, F.lit("/adrep"))
    frep = F.concat(ie, F.lit("/frep"))
    afile = F.concat(ie, F.lit("/afile"))
    aloc = F.concat(afile, F.lit("/loc"))
    pk = F.concat(ie, F.lit("/peak"))
    pkloc = F.concat(pk, F.lit("/loc"))
    pk2 = F.concat(ie, F.lit("/peak2"))
    pk2loc = F.concat(pk2, F.lit("/loc"))
    ct_n = F.concat(F.lit(idb + "coloring/ct"), (k % 13).cast("string"))
    c0 = k % 10 == 0          # av carrier gate (en-name negative at k%20==10)
    r0 = k % 14 == 0          # av rep/file gate
    dig0 = k % 28 == 0        # digital-rep kind
    frg0 = k % 28 == 14       # fragment-rep kind
    avrep = w(dig0, adrep).otherwise(frep)
    av_quads = base.filter(is_av & even_k).select(
        F.inline(
            F.array(
                # carrier chain
                quad(ie, ns["rel"] + "isr", w(c0, crep), graph=md_graph),
                quad(crep, _RDF_TYPE,
                     w(c0, F.lit(haObj + "CarrierRepresentation")), graph=md_graph),
                quad(crep, premis + "storedAt", w(c0, pc), graph=md_graph),
                quad(pc, _RDF_TYPE, w(c0, F.lit(haObj + "PhysicalCarrier")),
                     graph=md_graph),
                quad(pc, sch + "name",
                     w(c0, F.concat(F.lit("Drager "), (k % 12).cast("string"))),
                     lang=nl_unless(k % 20 == 10), graph=md_graph),
                quad(pc, premis + "medium", w(c0, medium_n), graph=md_graph),
                quad(crep, bf + "productionMethod",
                     w(c0 & (k % 7 == 0), pm_n), graph=md_graph),
                quad(pc, sch + "identifier",
                     w(c0 & (k % 7 == 1),
                       F.concat(F.lit("carr-"), k.cast("string"))), graph=md_graph),
                quad(ev_n, _RDF_TYPE,
                     w(c0 & (k % 7 == 2), F.lit(haEvt + "digitization")),
                     graph=md_graph),
                quad(ev_n, eror + "sou", w(c0 & (k % 7 == 2), pc), graph=md_graph),
                quad(ev_n, ns["prov"] + "startedAtTime",
                     w(c0 & (k % 7 == 2),
                       F.concat((k % 8 + 2015).cast("string"), F.lit("-02-02"))),
                     graph=md_graph),
                quad(pc, sch + "height", w(c0 & (k % 7 == 3), h_n), graph=md_graph),
                quad(h_n, sch + "value",
                     w(c0 & (k % 7 == 3), (k % 300).cast("string")), graph=md_graph),
                quad(h_n, sch + "unitText", w(c0 & (k % 7 == 3), F.lit("mm")),
                     graph=md_graph),
                quad(pc, sch + "width", w(c0 & (k % 7 == 4), w_n), graph=md_graph),
                quad(w_n, sch + "value",
                     w(c0 & (k % 7 == 4), (k % 200).cast("string")), graph=md_graph),
                quad(w_n, sch + "unitText", w(c0 & (k % 7 == 4), F.lit("mm")),
                     graph=md_graph),
                quad(pc, sch + "materialExtent",
                     w(c0 & (k % 7 == 5),
                       F.concat(F.lit("dozen "), (k % 4).cast("string"))),
                     graph=md_graph),
                quad(pc, sch + "material", w(c0 & (k % 7 == 6), F.lit("papier")),
                     graph=md_graph),
                quad(pc, ebu + "hasCaptioning",
                     w(c0 & (k % 11 < 2), cap_n), graph=md_graph),
                quad(cap_n, _RDF_TYPE,
                     w(c0 & (k % 11 < 2),
                       w(k % 11 == 0, F.lit(ebu + "OpenCaptions"))
                       .otherwise(ebu + "ClosedCaptions")),
                     graph=md_graph),
                # reel second type + coloring (ontologies/thesauri labels)
                quad(pc, _RDF_TYPE,
                     w(c0 & (k % 13 < 6),
                       w(k % 9 == 0, F.lit(haD + "AudioReel"))
                       .otherwise(haD + "ImageReel")),
                     graph=md_graph),
                quad(pc, haD + "coloringType",
                     w(c0 & (k % 13 < 3), ct_n), graph=md_graph),
                # representations: digital XOR fragment kind
                quad(adrep, _RDF_TYPE,
                     w(dig0, F.lit(haObj + "DigitalRepresentation")), graph=md_graph),
                quad(adrep, haObj + "isAccessCopyOf", w(dig0, ie), graph=md_graph),
                quad(frep, _RDF_TYPE,
                     w(frg0, F.lit(haObj + "FragmentRepresentation")), graph=md_graph),
                quad(frep, haObj + "isFragmentRepresentationOf", w(frg0, ie),
                     graph=md_graph),
                quad(frep, sch + "startTime",
                     w(frg0, (k % 100).cast("string")), graph=md_graph),
                quad(frep, sch + "endTime",
                     w(frg0, (k % 100 + 10).cast("string")), graph=md_graph),
                quad(frep, ebu + "isMediaFragmentOf", w(frg0, afile),
                     graph=md_graph),
                quad(avrep, sch + "name",
                     w(r0, F.concat(F.lit("AV weergave "), (k % 5).cast("string"))),
                     lang=nl_unless(k % 11 == 3), graph=md_graph),
                quad(avrep, sch + "inLanguage",
                     w(r0 & (k % 11 == 0), F.lit("nl")), graph=md_graph),
                quad(avrep, ns["rel"] + "hsr",
                     w(r0 & (k % 11 == 1),
                       F.concat(F.lit("urn:avhsr:"), k.cast("string"))),
                     graph=md_graph),
                quad(avrep, ns["rel"] + "hss",
                     w(r0 & (k % 11 == 2),
                       F.concat(F.lit("urn:avhss:"), k.cast("string"))),
                     graph=md_graph),
                quad(avrep, edm + "isNextInSequence",
                     w(r0 & (k % 11 == 4),
                       F.concat(F.lit("urn:avprev:"), k.cast("string"))),
                     graph=md_graph),
                quad(avrep, sch + "caption",
                     w(r0 & (k % 11 == 5),
                       F.concat(F.lit("urn:avcap:"), k.cast("string"))),
                     graph=md_graph),
                quad(avrep, sch + "transcript",
                     w(r0 & (k % 11 == 6),
                       F.concat(F.lit("avtr "), (k % 9).cast("string"))),
                     graph=md_graph),
                # the av file (mime whitelist negative at k%5==4 / >=3)
                quad(afile, _RDF_TYPE, w(r0, F.lit(premis + "File")),
                     graph=md_graph),
                quad(afile, sch + "name",
                     w(r0, F.concat(F.lit("av bestand "), (k % 6).cast("string"))),
                     lang="nl", graph=md_graph),
                quad(afile, premis + "originalName",
                     w(r0, F.concat(F.lit("av_"), k.cast("string"), F.lit(".mp4"))),
                     graph=md_graph),
                quad(afile, premis + "storedAt", w(r0, aloc), graph=md_graph),
                quad(aloc, rdfv,
                     w(r0, F.concat(F.lit("s3://av/"), k.cast("string"))),
                     graph=md_graph),
                quad(afile, ns["rel"] + "isi", w(dig0, adrep), graph=md_graph),
                quad(afile, ebu + "hasMimeType",
                     w(r0, _sq_pick(["video/mp4", "audio/mp4", "audio/mpeg",
                                     "image/jpeg", "application/xml"], k % 5)),
                     graph=md_graph),
                quad(afile, edm + "isNextInSequence",
                     w(r0 & (k % 13 == 0),
                       F.concat(F.lit("urn:avfprev:"), k.cast("string"))),
                     graph=md_graph),
                quad(afile, sch + "thumbnailUrl",
                     w(r0 & (k % 13 == 1),
                       F.concat(F.lit("https://avt/"), k.cast("string"))),
                     graph=md_graph),
                quad(afile, sch + "duration",
                     w(r0 & (k % 13 == 2),
                       F.concat(F.lit("PT"), (k % 60).cast("string"), F.lit("S"))),
                     graph=md_graph),
                # peak chain (av-audio): rep --inc--> peak; wave_ sibling
                # must drop on contains(?name, "peak")
                quad(adrep, ns["rel"] + "inc", w(dig0 & (k % 13 < 6), pk),
                     graph=md_graph),
                quad(pk, _RDF_TYPE, w(dig0 & (k % 13 < 6), F.lit(premis + "File")),
                     graph=md_graph),
                quad(pk, sch + "name",
                     w(dig0 & (k % 13 < 6),
                       F.concat(F.lit("piek "), (k % 4).cast("string"))),
                     lang="nl", graph=md_graph),
                quad(pk, premis + "originalName",
                     w(dig0 & (k % 13 < 6),
                       F.concat(F.lit("peak_"), k.cast("string"), F.lit(".json"))),
                     graph=md_graph),
                quad(pk, premis + "storedAt", w(dig0 & (k % 13 < 6), pkloc),
                     graph=md_graph),
                quad(pkloc, rdfv,
                     w(dig0 & (k % 13 < 6),
                       F.concat(F.lit("s3://peak/"), k.cast("string"))),
                     graph=md_graph),
                quad(pk, ebu + "hasMimeType",
                     w(dig0 & (k % 13 < 6), F.lit("application/json")),
                     graph=md_graph),
                quad(pk, edm + "isNextInSequence",
                     w(dig0 & (k % 13 == 0),
                       F.concat(F.lit("urn:pkprev:"), k.cast("string"))),
                     graph=md_graph),
                quad(pk, sch + "thumbnailUrl",
                     w(dig0 & (k % 13 == 1),
                       F.concat(F.lit("https://pk/"), k.cast("string"))),
                     graph=md_graph),
                quad(pk, sch + "duration",
                     w(dig0 & (k % 13 == 2),
                       F.concat(F.lit("PT"), (k % 30).cast("string"), F.lit("S"))),
                     graph=md_graph),
                quad(adrep, ns["rel"] + "inc", w(dig0 & (k % 13 == 6), pk2),
                     graph=md_graph),
                quad(pk2, _RDF_TYPE, w(dig0 & (k % 13 == 6), F.lit(premis + "File")),
                     graph=md_graph),
                quad(pk2, sch + "name",
                     w(dig0 & (k % 13 == 6),
                       F.concat(F.lit("golf "), (k % 4).cast("string"))),
                     lang="nl", graph=md_graph),
                quad(pk2, premis + "originalName",
                     w(dig0 & (k % 13 == 6),
                       F.concat(F.lit("wave_"), k.cast("string"), F.lit(".json"))),
                     graph=md_graph),
                quad(pk2, premis + "storedAt", w(dig0 & (k % 13 == 6), pk2loc),
                     graph=md_graph),
                quad(pk2loc, rdfv,
                     w(dig0 & (k % 13 == 6),
                       F.concat(F.lit("s3://wave/"), k.cast("string"))),
                     graph=md_graph),
                quad(pk2, ebu + "hasMimeType",
                     w(dig0 & (k % 13 == 6), F.lit("application/json")),
                     graph=md_graph),
            )
        )
    )

    # typed collection nodes, deduped per (collection, org graph) so
    # pattern scans stay duplicate-free (same reason anet colls seed
    # from range(37))
    cmeta = (
        base.filter((k % 9 < 7) & (k % 7 == 0))
        .select((k % 29).alias("cn"), md_graph.alias("g"))
        .distinct()
    )
    cn = F.col("cn")
    cg = F.col("g")
    coll_iri2 = F.concat(F.lit(idb + "collection/c"), cn.cast("string"))
    coll_type2 = F.concat(
        F.lit(sch),
        _sq_pick(["Episode", "ArchiveComponent", "CreativeWorkSeries",
                  "CreativeWorkSeason", "BroadcastEvent"], cn % 5),
    )
    coll_md_quads = cmeta.select(
        F.inline(
            F.array(
                quad(coll_iri2, _RDF_TYPE, coll_type2, graph=cg),
                quad(coll_iri2, sch + "name",
                     F.concat(F.lit("Collectie "), cn.cast("string")), graph=cg),
                quad(coll_iri2, sch + "seasonNumber",
                     w(cn % 4 == 1, (cn % 12).cast("string")), graph=cg),
                quad(coll_iri2, sch + "isPartOf",
                     w(cn % 4 == 3,
                       F.concat(F.lit(idb + "collection/parent"), cn.cast("string"))),
                     graph=cg),
            )
        )
    )

    # thesauri labels for the shared medium / production-method nodes
    thes = spark.range(4).select(F.col("id").alias("i"))
    ti = F.col("i")
    thes_quads = thes.select(
        F.inline(
            F.array(
                quad(F.concat(F.lit(idb + "medium/m"), ti.cast("string")),
                     skos + "prefLabel",
                     F.concat(F.lit("Medium "), ti.cast("string")),
                     lang="nl", graph=g_thes),
                quad(F.concat(F.lit(idb + "pm/"), ti.cast("string")),
                     skos + "prefLabel",
                     w(ti < 3, F.concat(F.lit("Methode "), ti.cast("string"))),
                     lang="nl", graph=g_thes),
                # coloring types: ct0/ct1 nl-labelled; ct2 en-only (the
                # av OPTIONAL's langMatches must leave it unbound)
                quad(F.concat(F.lit(idb + "coloring/ct"), ti.cast("string")),
                     skos + "prefLabel",
                     w(ti < 2, F.concat(F.lit("Kleur "), ti.cast("string"))),
                     lang="nl", graph=g_thes),
                quad(F.concat(F.lit(idb + "coloring/ct"), ti.cast("string")),
                     skos + "prefLabel",
                     w(ti == 2, F.lit("Colour 2")), lang="en", graph=g_thes),
                # graph:ontologies reel labels (nl kept, en dropped)
                quad(w(ti == 0, F.lit(haD + "AudioReel"))
                     .otherwise(haD + "ImageReel"),
                     rdfs + "label",
                     w(ti < 2, w(ti == 0, F.lit("Geluidsband"))
                       .otherwise("Beeldband")),
                     lang="nl", graph=g_ont),
                quad(w(ti == 0, F.lit(haD + "AudioReel"))
                     .otherwise(haD + "ImageReel"),
                     rdfs + "label",
                     w(ti < 2, w(ti == 0, F.lit("Audio reel"))
                       .otherwise("Image reel")),
                     lang="en", graph=g_ont),
            )
        )
    )

    quads = (
        org_quads.unionByName(order_quads)
        .unionByName(person_quads)
        .unionByName(news_quads)
        .unionByName(anet_quads)
        .unionByName(issue_quads)
        .unionByName(av_quads)
        .unionByName(coll_md_quads)
        .unionByName(thes_quads)
        .filter(F.col("object").isNotNull())
    )
    return quads.distinct()  # RDF graphs are SETS of triples


def kg_construct_real_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the reference's production person.sparql VERBATIM — the
    file text (typescript/queries/person.sparql, read at run time, no
    transcription) through the operators/sparql.py tokenizer → parser →
    DataFrame lowering, against the deterministic quad store above.
    This is demonstrated parity: the same query text the reference
    sends to its SPARQL endpoint (1_kg_view_construct.ts) produces an
    oracle-checked triple set here. Exercises GRAPH (constant, variable
    and nested), VALUES, property paths (alternation over a sequence,
    inverse), the ``{} UNION {..}`` idiom, OPTIONAL, langMatches/lang,
    !BOUND with an unbound parameter, IN filters, and the
    IRI/CONCAT/MD5/COALESCE BIND surface."""

    text = load_reference_query(_PERSON_SPARQL)
    quads = _sparql_person_quads(spark, sf_dir)
    return SQ.construct_query(quads, text)


KG_REAL_QUERY_ORACLE = """
WITH ie_rows AS (
  SELECT 'https://data.hetarchief.be/id/entity/' || CAST(o_orderkey AS VARCHAR) AS ie,
         'https://data.hetarchief.be/id/person/' || CAST(c_custkey AS VARCHAR) AS person,
         'https://data.hetarchief.be/id/fragment/' || CAST(o_orderkey AS VARCHAR) AS mention,
         'https://data.hetarchief.be/id/annotation/' || CAST(o_orderkey AS VARCHAR) AS ann,
         o_orderkey AS okey, c_custkey AS ck
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderkey % 9 < 7        -- VALUES ?ie_type
    AND o_orderkey % 11 < 9       -- license IN (...)
    AND c_nationkey % 5 <> 4      -- maintainer a haOrg:ContentPartner
    AND c_custkey % 4 <> 1        -- langMatches(lang(?name), 'nl')
), pers AS (
  SELECT DISTINCT person, ck FROM ie_rows
), t AS (
  SELECT ann AS subject, 'urn:kg-to-postgres:tableName' AS predicate,
         'graph.schema_mentions' AS object FROM ie_rows
  UNION
  SELECT ann, 'urn:kg-to-postgres:id', ann FROM ie_rows
  UNION
  SELECT ann, 'urn:kg-to-postgres:intellectual_entity_id', ie FROM ie_rows
  UNION
  SELECT ann, 'urn:kg-to-postgres:confidence',
         CASE WHEN okey % 3 = 0
              THEN '0.' || lpad(CAST(okey % 100 AS VARCHAR), 2, '0')
              ELSE '0.0' END
  FROM ie_rows
  UNION
  SELECT ann, 'urn:kg-to-postgres:thing_id', person FROM ie_rows
  UNION
  SELECT ann || '/' || md5(mention),
         'urn:kg-to-postgres:tableName', 'graph.schema_mentions_highlight'
  FROM ie_rows
  UNION
  SELECT ann || '/' || md5(mention),
         'urn:kg-to-postgres:schema_mentions_id', ann FROM ie_rows
  UNION
  SELECT ann || '/' || md5(mention),
         'urn:kg-to-postgres:highlight_id', mention FROM ie_rows
  UNION
  SELECT mention, 'urn:kg-to-postgres:tableName', 'graph.highlight' FROM ie_rows
  UNION
  SELECT mention, 'urn:kg-to-postgres:id', mention FROM ie_rows
  UNION
  SELECT mention, 'urn:kg-to-postgres:height',
         CAST(okey % 480 + 1 AS VARCHAR) FROM ie_rows
  UNION
  SELECT mention, 'urn:kg-to-postgres:width',
         CAST(okey % 640 + 1 AS VARCHAR) FROM ie_rows
  UNION
  SELECT mention, 'urn:kg-to-postgres:x', CAST(okey % 100 AS VARCHAR) FROM ie_rows
  UNION
  SELECT mention, 'urn:kg-to-postgres:y', CAST(okey % 120 AS VARCHAR) FROM ie_rows
  UNION
  SELECT person, 'urn:kg-to-postgres:tableName', 'graph.thing' FROM pers
  UNION
  SELECT person, 'urn:kg-to-postgres:id', person FROM pers
  UNION
  SELECT p.person, 'urn:kg-to-postgres:schema_name', c.c_name
  FROM pers p JOIN customer c ON p.ck = c.c_custkey
  UNION
  SELECT person, 'urn:kg-to-postgres:schema_birth_date',
         CAST(1900 + ck % 80 AS VARCHAR) || '-01-01'
  FROM pers WHERE ck % 3 = 0
  UNION
  SELECT person, 'urn:kg-to-postgres:schema_death_date',
         CAST(1940 + ck % 60 AS VARCHAR) || '-06-15'
  FROM pers WHERE ck % 5 = 0
  UNION
  SELECT person, 'urn:kg-to-postgres:schema_birth_place',
         'Borough ' || CAST(ck % 50 AS VARCHAR)
  FROM pers WHERE ck % 6 = 0
  UNION
  SELECT person, 'urn:kg-to-postgres:schema_death_place',
         'Cemetery ' || CAST(ck % 40 AS VARCHAR)
  FROM pers WHERE ck % 7 = 0
)
SELECT subject, predicate, object FROM t
"""


# ---------------------------------------------------------------------------
# A67b: organization.sparql verbatim (FROM datasets + nested OPTIONALs)

_ORG_SPARQL = "organization.sparql"

_OQ = {
    "w3org": "http://www.w3.org/ns/org#",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "dct": "http://purl.org/dc/terms/",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "haOrg": "https://data.hetarchief.be/ns/organization/",
    "schema": "https://schema.org/",
    "org": "https://data.hetarchief.be/id/organization/",
    "cls": "https://data.hetarchief.be/id/class/",
    "pref": "https://data.hetarchief.be/id/organization-preferences/p-",
    "cp": "https://data.hetarchief.be/id/contact-point/",
    "site": "https://data.hetarchief.be/id/site/",
    "addr": "https://data.hetarchief.be/id/address/",
    "g_org": "https://data.hetarchief.be/graph/organization",
    "g_bavo": "https://data.hetarchief.be/graph/organization-static-bavo",
    "g_pref": "https://data.hetarchief.be/graph/organization-preferences",
    "g_thes": "https://data.hetarchief.be/graph/thesauri",
}


@_staged_by_predicate("sparql_org_v1", ("customer",))
def _sparql_org_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quad store shaped for organization.sparql: orgs from the
    customer table with every OPTIONAL populated on a deterministic
    modulus — identifiers failing the strStarts('OR-') filter, labels
    failing langMatches('nl'), a request-form URL containing the
    literal backslash-underscore the query's REPLACE un-escapes,
    classification labels in BOTH languages (the inner FILTER keeps
    nl), preference resources whose last path segment the regex BIND
    extracts, nested contact-point and postal-address blocks. Spread
    across the four FROM graphs so the dataset-clause union is doing
    real work. One inline() generator pass, staged predicate-
    partitioned like the person store."""
    q = _OQ
    cust = load_table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    cks = ck.cast("string")
    org = F.concat(F.lit(q["org"]), cks)
    ident = F.when(
        ck % 4 == 1, F.concat(F.lit("XX-"), cks)
    ).otherwise(F.concat(F.lit("OR-"), cks))
    label_lang = F.when(ck % 5 == 2, F.lit("en")).otherwise(F.lit("nl"))
    cls_node = F.concat(F.lit(q["cls"]), (ck % 5).cast("string"))
    pref_node = F.concat(F.lit(q["pref"]), (ck % 6).cast("string"))
    cp_node = F.concat(F.lit(q["cp"]), cks)
    site_node = F.concat(F.lit(q["site"]), cks)
    addr_node = F.concat(F.lit(q["addr"]), cks)

    def as_col(x):
        return x if isinstance(x, Column) else F.lit(x)

    def quad(s, p, o, lang=None, graph=None):
        return F.struct(
            as_col(s).cast("string").alias("subject"),
            F.lit(p).alias("predicate"),
            as_col(o).cast("string").alias("object"),
            as_col(lang).cast("string").alias("lang"),
            as_col(graph).cast("string").alias("graph"),
        )

    when = lambda cond, col: F.when(cond, col)  # noqa: E731
    quads = cust.select(
        F.inline(
            F.array(
                quad(org, _RDF_TYPE, q["w3org"] + "Organization", graph=q["g_org"]),
                quad(org, q["w3org"] + "identifier", ident, graph=q["g_org"]),
                quad(org, q["skos"] + "prefLabel", F.col("c_name"),
                     lang=label_lang, graph=q["g_org"]),
                quad(org, q["dct"] + "description",
                     when(ck % 2 == 0, F.concat(F.lit("Desc "), (ck % 97).cast("string"))),
                     graph=q["g_org"]),
                quad(org, q["foaf"] + "homepage",
                     when(ck % 3 == 0, F.concat(F.lit("https://org"), cks, F.lit(".example"))),
                     graph=q["g_org"]),
                quad(org, q["haOrg"] + "hasLogo",
                     when(ck % 4 == 0, F.concat(F.lit("https://img.example/"), cks, F.lit(".png"))),
                     graph=q["g_org"]),
                quad(org, q["haOrg"] + "requestForm",
                     when(ck % 5 == 0,
                          F.concat(F.lit("https://forms.example/f\\_"), (ck % 50).cast("string"))),
                     graph=q["g_org"]),
                quad(org, q["haOrg"] + "sector",
                     when(ck % 6 == 0, _sq_pick(["Cultuur", "Overheid", "Onderwijs"], ck % 3)),
                     graph=q["g_org"]),
                quad(org, q["w3org"] + "classification",
                     when(ck % 7 == 0, cls_node), graph=q["g_org"]),
                quad(org, q["haOrg"] + "hasPreference",
                     when(ck % 2 == 1, pref_node), graph=q["g_pref"]),
                quad(org, q["schema"] + "vatID",
                     when(ck % 8 == 0, F.concat(F.lit("BE0"), (ck + 400000000).cast("string"))),
                     graph=q["g_org"]),
                # contact point block
                quad(org, q["schema"] + "contactPoint",
                     when(ck % 3 == 1, cp_node), graph=q["g_org"]),
                quad(cp_node, q["schema"] + "contactType",
                     when(ck % 3 == 1, F.lit("ontsluiting")), graph=q["g_org"]),
                quad(cp_node, q["schema"] + "email",
                     when(ck % 6 == 1, F.concat(F.lit("org"), cks, F.lit("@example.com"))),
                     graph=q["g_org"]),
                quad(cp_node, q["schema"] + "telephone",
                     when(ck % 9 == 1, F.concat(F.lit("+32"), (ck + 10000).cast("string"))),
                     graph=q["g_org"]),
                # postal address block (static-bavo graph)
                quad(org, q["w3org"] + "hasSite",
                     when(ck % 5 == 3, site_node), graph=q["g_bavo"]),
                quad(site_node, q["w3org"] + "siteAddress",
                     when(ck % 5 == 3, addr_node), graph=q["g_bavo"]),
                quad(addr_node, q["schema"] + "contactType",
                     when(ck % 5 == 3, F.lit("postadres")), graph=q["g_bavo"]),
                quad(addr_node, q["schema"] + "streetAddress",
                     when((ck % 5 == 3) & (ck % 2 == 0),
                          F.concat(F.lit("Straat "), (ck % 40).cast("string"))),
                     graph=q["g_bavo"]),
                quad(addr_node, q["schema"] + "addressCountry",
                     when(ck % 5 == 3, F.lit("BE")), graph=q["g_bavo"]),
                quad(addr_node, q["schema"] + "addressLocality",
                     when((ck % 5 == 3) & (ck % 3 == 0),
                          F.concat(F.lit("Stad "), (ck % 20).cast("string"))),
                     graph=q["g_bavo"]),
                quad(addr_node, q["schema"] + "postalCode",
                     when((ck % 5 == 3) & (ck % 4 == 0),
                          (ck % 100 + 9000).cast("string")),
                     graph=q["g_bavo"]),
                quad(addr_node, q["schema"] + "addressRegion",
                     when((ck % 5 == 3) & (ck % 6 == 0),
                          F.concat(F.lit("Regio "), (ck % 9).cast("string"))),
                     graph=q["g_bavo"]),
                # classification labels, both languages, thesauri graph
                quad(cls_node, q["skos"] + "prefLabel",
                     when(ck % 7 == 0, F.concat(F.lit("Klasse "), (ck % 5).cast("string"))),
                     lang="nl", graph=q["g_thes"]),
                quad(cls_node, q["skos"] + "prefLabel",
                     when(ck % 7 == 0, F.concat(F.lit("Class "), (ck % 5).cast("string"))),
                     lang="en", graph=q["g_thes"]),
            )
        )
    ).filter(F.col("object").isNotNull())
    return quads.distinct()  # RDF graphs are SETS of triples


def kg_construct_real_query_org(spark: SparkSession, sf_dir: str) -> DataFrame:
    """organization.sparql VERBATIM (the reference's 17-UNION sibling
    is av-*; this one exercises what person.sparql does not): FROM
    dataset clauses (default graph = union of four named graphs),
    nested OPTIONAL-in-OPTIONAL, FILTER inside an OPTIONAL group,
    BIND with regex REPLACE ("$1" extraction and the escaped
    backslash-underscore un-escape), strStarts, and md5-derived
    subject IRIs. Same compiler, same oracle discipline as A67."""

    text = load_reference_query(_ORG_SPARQL)
    quads = _sparql_org_quads(spark, sf_dir)
    return SQ.construct_query(quads, text)


KG_REAL_QUERY_ORG_ORACLE = """
WITH base AS (
  SELECT c_custkey AS ck, c_name,
         'https://data.hetarchief.be/id/organization/' || CAST(c_custkey AS VARCHAR) AS org
  FROM customer
  WHERE c_custkey % 4 <> 1    -- strStarts(?org_identifier, 'OR-')
    AND c_custkey % 5 <> 2    -- langMatches(lang(?skos_pref_label), 'nl')
), t AS (
  SELECT org AS subject, 'urn:kg-to-postgres:tableName' AS predicate,
         'graph.organization' AS object FROM base
  UNION
  SELECT org, 'urn:kg-to-postgres:id', org FROM base
  UNION
  SELECT org, 'urn:kg-to-postgres:org_identifier', 'OR-' || CAST(ck AS VARCHAR) FROM base
  UNION
  SELECT org, 'urn:kg-to-postgres:skos_pref_label', c_name FROM base
  UNION
  SELECT org, 'urn:kg-to-postgres:dcterms_description',
         'Desc ' || CAST(ck % 97 AS VARCHAR) FROM base WHERE ck % 2 = 0
  UNION
  SELECT org, 'urn:kg-to-postgres:foaf_homepage',
         'https://org' || CAST(ck AS VARCHAR) || '.example' FROM base WHERE ck % 3 = 0
  UNION
  SELECT org, 'urn:kg-to-postgres:ha_org_has_logo',
         'https://img.example/' || CAST(ck AS VARCHAR) || '.png' FROM base WHERE ck % 4 = 0
  UNION
  SELECT org, 'urn:kg-to-postgres:ha_org_request_form',
         'https://forms.example/f_' || CAST(ck % 50 AS VARCHAR) FROM base WHERE ck % 5 = 0
  UNION
  SELECT org, 'urn:kg-to-postgres:ha_org_sector',
         CASE ck % 3 WHEN 0 THEN 'Cultuur' WHEN 1 THEN 'Overheid' ELSE 'Onderwijs' END
  FROM base WHERE ck % 6 = 0
  UNION
  SELECT org, 'urn:kg-to-postgres:org_classification',
         'Klasse ' || CAST(ck % 5 AS VARCHAR) FROM base WHERE ck % 7 = 0
  UNION
  SELECT org, 'urn:kg-to-postgres:schema_vat_id',
         'BE0' || CAST(ck + 400000000 AS VARCHAR) FROM base WHERE ck % 8 = 0
  UNION
  SELECT org || md5('p-' || CAST(ck % 6 AS VARCHAR)),
         'urn:kg-to-postgres:tableName', 'graph.organization_has_preference'
  FROM base WHERE ck % 2 = 1
  UNION
  SELECT org || md5('p-' || CAST(ck % 6 AS VARCHAR)),
         'urn:kg-to-postgres:organization_id', org FROM base WHERE ck % 2 = 1
  UNION
  SELECT org || md5('p-' || CAST(ck % 6 AS VARCHAR)),
         'urn:kg-to-postgres:ha_pref', 'p-' || CAST(ck % 6 AS VARCHAR)
  FROM base WHERE ck % 2 = 1
  UNION
  SELECT 'https://data.hetarchief.be/id/contact-point/' || CAST(ck AS VARCHAR),
         'urn:kg-to-postgres:tableName', 'graph.schema_contact_point'
  FROM base WHERE ck % 3 = 1
  UNION
  SELECT 'https://data.hetarchief.be/id/contact-point/' || CAST(ck AS VARCHAR),
         'urn:kg-to-postgres:id',
         'https://data.hetarchief.be/id/contact-point/' || CAST(ck AS VARCHAR)
  FROM base WHERE ck % 3 = 1
  UNION
  SELECT 'https://data.hetarchief.be/id/contact-point/' || CAST(ck AS VARCHAR),
         'urn:kg-to-postgres:organization_id', org FROM base WHERE ck % 3 = 1
  UNION
  SELECT 'https://data.hetarchief.be/id/contact-point/' || CAST(ck AS VARCHAR),
         'urn:kg-to-postgres:schema_contact_type', 'ontsluiting'
  FROM base WHERE ck % 3 = 1
  UNION
  SELECT 'https://data.hetarchief.be/id/contact-point/' || CAST(ck AS VARCHAR),
         'urn:kg-to-postgres:schema_email',
         'org' || CAST(ck AS VARCHAR) || '@example.com'
  FROM base WHERE ck % 6 = 1
  UNION
  SELECT 'https://data.hetarchief.be/id/contact-point/' || CAST(ck AS VARCHAR),
         'urn:kg-to-postgres:schema_telephone',
         '+32' || CAST(ck + 10000 AS VARCHAR)
  FROM base WHERE ck % 9 = 1
  UNION
  SELECT org || '/' || md5('https://data.hetarchief.be/id/address/' || CAST(ck AS VARCHAR)),
         'urn:kg-to-postgres:tableName', 'graph.organization_has_postal_address'
  FROM base WHERE ck % 5 = 3
  UNION
  SELECT org || '/' || md5('https://data.hetarchief.be/id/address/' || CAST(ck AS VARCHAR)),
         'urn:kg-to-postgres:organization_id', org FROM base WHERE ck % 5 = 3
  UNION
  SELECT org || '/' || md5('https://data.hetarchief.be/id/address/' || CAST(ck AS VARCHAR)),
         'urn:kg-to-postgres:postal_address_id',
         'https://data.hetarchief.be/id/address/' || CAST(ck AS VARCHAR)
  FROM base WHERE ck % 5 = 3
  UNION
  SELECT 'https://data.hetarchief.be/id/address/' || CAST(ck AS VARCHAR),
         'urn:kg-to-postgres:tableName', 'graph.schema_postal_address'
  FROM base WHERE ck % 5 = 3
  UNION
  SELECT 'https://data.hetarchief.be/id/address/' || CAST(ck AS VARCHAR),
         'urn:kg-to-postgres:id',
         'https://data.hetarchief.be/id/address/' || CAST(ck AS VARCHAR)
  FROM base WHERE ck % 5 = 3
  UNION
  SELECT 'https://data.hetarchief.be/id/address/' || CAST(ck AS VARCHAR),
         'urn:kg-to-postgres:organization_id', org FROM base WHERE ck % 5 = 3
  UNION
  SELECT 'https://data.hetarchief.be/id/address/' || CAST(ck AS VARCHAR),
         'urn:kg-to-postgres:schema_contact_type', 'postadres'
  FROM base WHERE ck % 5 = 3
  UNION
  SELECT 'https://data.hetarchief.be/id/address/' || CAST(ck AS VARCHAR),
         'urn:kg-to-postgres:schema_street_address',
         'Straat ' || CAST(ck % 40 AS VARCHAR)
  FROM base WHERE ck % 5 = 3 AND ck % 2 = 0
  UNION
  SELECT 'https://data.hetarchief.be/id/address/' || CAST(ck AS VARCHAR),
         'urn:kg-to-postgres:schema_address_country', 'BE'
  FROM base WHERE ck % 5 = 3
  UNION
  SELECT 'https://data.hetarchief.be/id/address/' || CAST(ck AS VARCHAR),
         'urn:kg-to-postgres:schema_address_locality',
         'Stad ' || CAST(ck % 20 AS VARCHAR)
  FROM base WHERE ck % 5 = 3 AND ck % 3 = 0
  UNION
  SELECT 'https://data.hetarchief.be/id/address/' || CAST(ck AS VARCHAR),
         'urn:kg-to-postgres:schema_postal_code',
         CAST(ck % 100 + 9000 AS VARCHAR)
  FROM base WHERE ck % 5 = 3 AND ck % 4 = 0
  UNION
  SELECT 'https://data.hetarchief.be/id/address/' || CAST(ck AS VARCHAR),
         'urn:kg-to-postgres:schema_address_region',
         'Regio ' || CAST(ck % 9 AS VARCHAR)
  FROM base WHERE ck % 5 = 3 AND ck % 6 = 0
)
SELECT subject, predicate, object FROM t
"""


# ---------------------------------------------------------------------------
# A67c: deletes.sparql verbatim (parameter bindings + FILTER NOT EXISTS)

_DEL_SPARQL = "deletes.sparql"
_DEL_SINCE = "1999-01-01 00:00:00"


@_staged_by_predicate("sparql_del_v1", ("customer", "nation", "orders"))
def _sparql_del_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quad store for deletes.sparql: ContentPartner orgs (shared shape
    with the person store), per-org metadata graphs holding MediaHaven
    fragments (mh:Fragment with identifier / dateModified / PID, a
    dateDeleted subset) and the IEs they derive, typed + licensed so
    the FILTER NOT EXISTS branch keeps exactly the IEs whose license
    list has NO allowed entry (okey % 11 >= 9 under the shared license
    indexing). Separate staging from the person store so each verbatim
    query's fixture is self-contained."""
    ns = _SQ_NS
    mh = "https://data.hetarchief.be/ns/mediahaven/"

    def as_col(x):
        return x if isinstance(x, Column) else F.lit(x)

    def quad(s, p, o, lang=None, graph=None):
        return F.struct(
            as_col(s).cast("string").alias("subject"),
            F.lit(p).alias("predicate"),
            as_col(o).cast("string").alias("object"),
            as_col(lang).cast("string").alias("lang"),
            as_col(graph).cast("string").alias("graph"),
        )

    nat = load_table(spark, sf_dir, "nation")
    org_iri = F.concat(F.lit(ns["org"] + "OR-"), F.col("n_nationkey").cast("string"))
    org_type = F.when(
        F.col("n_nationkey") % 5 != 4, F.lit(ns["haOrg"] + "ContentPartner")
    ).otherwise(F.lit(ns["haOrg"] + "Organization"))
    org_quads = nat.select(
        F.inline(
            F.array(
                quad(org_iri, _RDF_TYPE, org_type, graph=ns["g_org"]),
                quad(org_iri, _SQ_NS["w3org"] + "identifier",
                     F.concat(F.lit("OR-"), F.col("n_nationkey").cast("string")),
                     graph=ns["g_org"]),
            )
        )
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    base = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "o_orderdate", "c_nationkey"
    )
    k = F.col("o_orderkey")
    ie = F.concat(F.lit(ns["ent"]), k.cast("string"))
    rep = F.concat(ie, F.lit("/rep"))
    frag = F.concat(F.lit("https://data.hetarchief.be/id/fragment-mh/"), k.cast("string"))
    md_graph = F.concat(F.lit(ns["g_md"] + "OR-"), F.col("c_nationkey").cast("string"))
    lic = F.concat(F.lit(ns["haLicId"]), _sq_pick(_SQ_LICENSES, k % 11))
    ie_type = F.concat(F.lit(ns["haDes"]), _sq_pick(_SQ_IE_TYPES, k % 9))
    even = (k % 2) == 0
    frag_quads = base.select(
        F.inline(
            F.array(
                quad(frag, _RDF_TYPE, mh + "Fragment", graph=md_graph),
                quad(frag, ns["schema"] + "identifier",
                     F.concat(F.lit("frag-"), k.cast("string")), graph=md_graph),
                quad(frag, ns["schema"] + "dateModified",
                     F.col("o_orderdate").cast("string"), graph=md_graph),
                quad(frag, mh + "PID", k.cast("string"), graph=md_graph),
                quad(frag, ns["schema"] + "dateDeleted",
                     F.when(k % 4 == 0, F.col("o_orderdate").cast("string")),
                     graph=md_graph),
                quad(ie, _RDF_TYPE, ie_type, graph=md_graph),
                quad(ie, ns["prov"] + "wasDerivedFrom", frag, graph=md_graph),
                quad(ie, ns["schema"] + "license", F.when(even, lic), graph=md_graph),
                quad(ie, ns["rel"] + "isp", F.when(~even, rep), graph=md_graph),
                quad(rep, ns["schema"] + "license", F.when(~even, lic), graph=md_graph),
            )
        )
    ).filter(F.col("object").isNotNull())

    quads = org_quads.unionByName(frag_quads)
    return quads.distinct()  # RDF graphs are SETS of triples


def kg_construct_real_query_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deletes.sparql VERBATIM — the third production file end-to-end,
    exercising what the other two do not: INJECTED PARAMETER BINDINGS
    (?since, ?prefix_id_base — bound(?since) gates BOTH union branches,
    so without the engine-side params API the query is vacuously
    empty, exactly as it is for the reference without its runner's
    substitution), FILTER NOT EXISTS over a property-path group
    (tombstone IEs = no allowed license on either path branch), and a
    boolean literal in the CONSTRUCT template."""

    text = load_reference_query(_DEL_SPARQL)
    quads = _sparql_del_quads(spark, sf_dir)
    return SQ.construct_query(
        quads,
        text,
        params={
            "since": _DEL_SINCE,
            "prefix_id_base": _SQ_NS["ent"],
        },
    )


KG_REAL_QUERY_DEL_ORACLE = f"""
WITH frags AS (
  SELECT o_orderkey AS okey,
         'https://data.hetarchief.be/id/fragment-mh/' || CAST(o_orderkey AS VARCHAR) AS frag,
         'https://data.hetarchief.be/id/entity/' || CAST(o_orderkey AS VARCHAR) AS ie,
         'frag-' || CAST(o_orderkey AS VARCHAR) AS mh_id
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_nationkey % 5 <> 4
    AND CAST(o_orderdate AS VARCHAR) >= '{_DEL_SINCE}'
), hits AS (
  SELECT frag, ie, mh_id FROM frags WHERE okey % 4 = 0        -- dateDeleted branch
  UNION
  SELECT frag, ie, mh_id FROM frags
  WHERE okey % 9 < 7                                          -- VALUES ?ie_type
    AND okey % 11 >= 9                                        -- NOT EXISTS allowed license
), t AS (
  SELECT frag AS subject, 'urn:kg-to-postgres:tableName' AS predicate,
         'graph.mh_fragment_identifier' AS object FROM hits
  UNION
  SELECT frag, 'urn:kg-to-postgres:intellectual_entity_id', ie FROM hits
  UNION
  SELECT frag, 'urn:kg-to-postgres:mh_fragment_identifier', mh_id FROM hits
  UNION
  SELECT frag, 'urn:kg-to-postgres:is_deleted', 'true' FROM hits
)
SELECT subject, predicate, object FROM t
"""


# ---------------------------------------------------------------------------
# A67d/A67e: newspaper-collection.sparql and iiif.sparql verbatim

_NEWS_SPARQL = "newspaper-collection.sparql"
_IIIF_SPARQL = "iiif.sparql"


def kg_construct_real_query_newspaper(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """newspaper-collection.sparql VERBATIM — adds to the verbatim set:
    a THIRD nesting of named graphs (organization -> per-org metadata ->
    the shared graph:anet catalogue), an IRI inequality FILTER (the
    #N/A sentinel collection is excluded), a constant-string BIND, and
    a union whose branches key on TWO DIFFERENT variables (?id for
    in-language/alternate-name, ?serie for location/dates/publisher) —
    the grouped-union lowering joins each key group once."""

    text = load_reference_query(_NEWS_SPARQL)
    return SQ.construct_query(_sparql_person_quads(spark, sf_dir), text)


def kg_construct_real_query_iiif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """iiif.sparql VERBATIM — adds: a FIXED foreign metadata graph
    (mgraph:post) nested inside the variable ?ORGraph scope (IIIF
    copies live in a shared post-processing graph, not the owning
    org's), a single-value VALUES pinning the mime type (the seeded
    sibling tiff file must drop), and rep/file attribute unions over
    two key groups under an identity branch."""

    text = load_reference_query(_IIIF_SPARQL)
    return SQ.construct_query(_sparql_person_quads(spark, sf_dir), text)


_NEWS_QUAL = """
  SELECT o_orderkey AS okey, o_orderkey % 37 AS cnum,
         'https://data.hetarchief.be/id/entity/' || CAST(o_orderkey AS VARCHAR) AS ie,
         'https://anet.be/record/opacbnc/c' || CAST(o_orderkey % 37 AS VARCHAR) AS id
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderkey % 9 IN (5, 6)      -- VALUES ?ie_type (newspaper tiers)
    AND o_orderkey % 11 < 9           -- license IN (...)
    AND c_nationkey % 5 <> 4          -- ContentPartner maintainer
    AND o_orderkey % 37 <> 13         -- ?id != the #N/A sentinel
"""

KG_REAL_QUERY_NEWS_ORACLE = f"""
WITH qual AS ({_NEWS_QUAL}
), colls AS (
  SELECT DISTINCT cnum, id FROM qual
), t AS (
  SELECT id AS subject, 'urn:kg-to-postgres:tableName' AS predicate,
         'graph.collection' AS object FROM colls
  UNION
  SELECT id, 'urn:kg-to-postgres:id', id FROM colls
  UNION
  SELECT id, 'urn:kg-to-postgres:collection_type', 'newspaper' FROM colls
  UNION
  SELECT id, 'urn:kg-to-postgres:schema_name',
         'Krant ' || CAST(cnum AS VARCHAR) FROM colls
  UNION
  SELECT id, 'urn:kg-to-postgres:schema_identifier',
         'bnc-' || CAST(cnum AS VARCHAR) FROM colls
  UNION
  SELECT id, 'urn:kg-to-postgres:schema_location_created',
         'Gent-' || CAST(cnum AS VARCHAR) FROM colls WHERE cnum % 2 = 0
  UNION
  SELECT id, 'urn:kg-to-postgres:schema_end_date',
         '19' || CAST(cnum + 10 AS VARCHAR) || '-12-31'
  FROM colls WHERE cnum % 3 = 0
  UNION
  SELECT id, 'urn:kg-to-postgres:schema_start_date',
         '18' || CAST(cnum + 50 AS VARCHAR) || '-01-01'
  FROM colls WHERE cnum % 3 = 1
  UNION
  SELECT id, 'urn:kg-to-postgres:schema_publisher',
         'Uitgever ' || CAST(cnum AS VARCHAR) FROM colls WHERE cnum % 5 = 0
  UNION
  SELECT id || md5('nl'), 'urn:kg-to-postgres:tableName',
         'graph.newspaper_schema_in_language' FROM colls WHERE cnum % 2 = 1
  UNION
  SELECT id || md5('nl'), 'urn:kg-to-postgres:collection_id', id
  FROM colls WHERE cnum % 2 = 1
  UNION
  SELECT id || md5('nl'), 'urn:kg-to-postgres:schema_in_language', 'nl'
  FROM colls WHERE cnum % 2 = 1
  UNION
  SELECT id || md5('De Krant ' || CAST(cnum AS VARCHAR)),
         'urn:kg-to-postgres:tableName', 'graph.newspaper_schema_alternate_name'
  FROM colls WHERE cnum % 5 = 2
  UNION
  SELECT id || md5('De Krant ' || CAST(cnum AS VARCHAR)),
         'urn:kg-to-postgres:collection_id', id FROM colls WHERE cnum % 5 = 2
  UNION
  SELECT id || md5('De Krant ' || CAST(cnum AS VARCHAR)),
         'urn:kg-to-postgres:schema_alternate_name',
         'De Krant ' || CAST(cnum AS VARCHAR) FROM colls WHERE cnum % 5 = 2
  UNION
  SELECT ie || '/' || md5(id), 'urn:kg-to-postgres:tableName',
         'graph.schema_is_part_of' FROM qual
  UNION
  SELECT ie || '/' || md5(id), 'urn:kg-to-postgres:intellectual_entity_id', ie
  FROM qual
  UNION
  SELECT ie || '/' || md5(id), 'urn:kg-to-postgres:type', 'newspaper' FROM qual
  UNION
  SELECT ie || '/' || md5(id), 'urn:kg-to-postgres:collection_id', id FROM qual
)
SELECT subject, predicate, object FROM t
"""

# ---------------------------------------------------------------------------
# A69: SPARQL SELECT/ASK text forms through the compiler

_SELECT_TEXT = """
PREFIX haOrg: <https://data.hetarchief.be/ns/organization/>
PREFIX org: <http://www.w3.org/ns/org#>
PREFIX schema: <https://schema.org/>
PREFIX graph: <https://data.hetarchief.be/graph/>
SELECT ?maintainer_id (COUNT(*) AS ?n_entities) WHERE {
  GRAPH graph:organization {
    ?m a haOrg:ContentPartner ; org:identifier ?maintainer_id
  }
  BIND(IRI(CONCAT("https://data.hetarchief.be/graph/metadata/", ?maintainer_id)) AS ?g)
  GRAPH ?g { ?ie a ?t ; schema:maintainer ?m }
} GROUP BY ?maintainer_id ORDER BY ?maintainer_id
"""

_ASK_TEXT = """
PREFIX schema: <https://schema.org/>
PREFIX haLicId: <https://data.hetarchief.be/id/license/>
ASK { ?ie schema:license haLicId:VIAA-ONDERWIJS }
"""


def kg_select_real_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL SELECT query-form through the TEXT compiler (A69): the
    same tokenizer/parser/evaluator that runs the reference's nine
    CONSTRUCT files also lowers SELECT — projection, (COUNT(*) AS ?v)
    aggregates, GROUP BY, ORDER BY — so a reference user's ad-hoc
    SELECTs run too (the reference ships only CONSTRUCT in
    production; the form surface mirrors kg_select_agg's hand-built
    plan, now reachable from query text). Per-org entity counts over
    the shared verbatim-query store."""

    return SQ.select_query(_sparql_person_quads(spark, sf_dir), _SELECT_TEXT)


def kg_ask_real_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ASK through the text compiler: data-dependent (the probed
    license index 9 is outside every production query's allow-list but
    present in the store on even keys), emitted as a string boolean so
    the driver's hash check applies."""

    return SQ.select_query(_sparql_person_quads(spark, sf_dir), _ASK_TEXT)


KG_SELECT_REAL_TEXT_ORACLE = """
SELECT 'OR-' || CAST(c_nationkey AS VARCHAR) AS maintainer_id,
       COUNT(*) AS n_entities
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_nationkey % 5 <> 4
GROUP BY c_nationkey
"""

KG_ASK_REAL_TEXT_ORACLE = """
SELECT CASE WHEN EXISTS (
  SELECT 1 FROM orders WHERE o_orderkey % 11 = 9 AND o_orderkey % 2 = 0
) THEN 'true' ELSE 'false' END AS ask
"""


# ---------------------------------------------------------------------------
# A70: SPARQL DESCRIBE + UPDATE text forms through the compiler

_DESCRIBE_TEXT = """
PREFIX haOrg: <https://data.hetarchief.be/ns/organization/>
PREFIX graph: <https://data.hetarchief.be/graph/>
DESCRIBE ?m <https://data.hetarchief.be/id/organization/OR-4>
WHERE { GRAPH graph:organization { ?m a haOrg:ContentPartner } }
"""

_UPDATE_TEXT = """
PREFIX schema: <https://schema.org/>
PREFIX haLicId: <https://data.hetarchief.be/id/license/>
PREFIX haDes: <https://data.hetarchief.be/ns/description/>
DELETE { GRAPH ?g { ?s schema:license ?lic } }
INSERT { GRAPH ?g { ?s schema:license haLicId:Publiek-Domein .
                    ?s haDes:relicensedFrom ?lic } }
WHERE {
  GRAPH ?g { ?s schema:license ?lic }
  FILTER(?lic IN (haLicId:VIAA-ONDERWIJS, haLicId:VIAA-ONDERZOEK))
}
"""


def kg_describe_real_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE through the TEXT compiler (A70): mixed
    var-plus-IRI resource list (every ContentPartner org and one named
    non-partner), WHERE-scoped. The description is the outgoing-arc
    closure at depth 1 — the contract the hand-built A37 plan
    (``kg_describe``) defines — produced by ONE subject semi-join
    against the quad store (broadcast: the resource set is tiny;
    subject-partition-prunable at scale)."""

    return SQ.describe_query(_sparql_person_quads(spark, sf_dir), _DESCRIBE_TEXT)


def kg_update_real_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 UPDATE through the TEXT compiler (A70): the
    relicensing sweep — DELETE { ?s schema:license ?lic } INSERT
    { ?s schema:license Publiek-Domein . ?s relicensedFrom ?lic }
    WHERE { GRAPH ?g ... FILTER(?lic IN (...)) } — returning the
    EFFECTIVE delta (op='delete' rows that existed, op='insert' rows
    genuinely new after the delete). The hand-built A59 plan pins the
    same delete-then-insert semantics from Python literals; this runs
    it from update text: solution set computed once, two whole-quad
    null-safe hash joins against the store, no row-at-a-time path.
    Exercises GRAPH blocks in both templates and a var graph term."""

    return SQ.update_delta(_sparql_person_quads(spark, sf_dir), _UPDATE_TEXT)


KG_DESCRIBE_REAL_TEXT_ORACLE = """
WITH ks AS (
  SELECT n_nationkey AS k FROM nation
  WHERE n_nationkey % 5 <> 4 OR n_nationkey = 4
),
orgs AS (
  SELECT k, 'https://data.hetarchief.be/id/organization/OR-'
           || CAST(k AS VARCHAR) AS s
  FROM ks
)
SELECT s AS subject,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
       CASE WHEN k % 5 <> 4
            THEN 'https://data.hetarchief.be/ns/organization/ContentPartner'
            ELSE 'https://data.hetarchief.be/ns/organization/Organization'
       END AS object,
       CAST(NULL AS VARCHAR) AS lang,
       'https://data.hetarchief.be/graph/organization' AS graph
FROM orgs
UNION ALL
SELECT s, 'http://www.w3.org/ns/org#identifier',
       'OR-' || CAST(k AS VARCHAR), CAST(NULL AS VARCHAR),
       'https://data.hetarchief.be/graph/organization'
FROM orgs
"""

_SUBSELECT_TEXT = """
PREFIX haOrg: <https://data.hetarchief.be/ns/organization/>
PREFIX org: <http://www.w3.org/ns/org#>
PREFIX schema: <https://schema.org/>
PREFIX graph: <https://data.hetarchief.be/graph/>
SELECT ?maintainer_id ?n_entities WHERE {
  GRAPH graph:organization {
    ?m a haOrg:ContentPartner ; org:identifier ?maintainer_id
  }
  { SELECT ?m (COUNT(*) AS ?n_entities)
    WHERE { GRAPH ?g2 { [ schema:maintainer ?m ] } }
    GROUP BY ?m HAVING(COUNT(*) >= 600) }
}
"""


def kg_select_subquery_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL SUBSELECT + HAVING + blank-node syntax from TEXT (A72):
    ``{ SELECT ?m (COUNT(*) AS ?n) WHERE { [ schema:maintainer ?m ] }
    GROUP BY ?m HAVING(COUNT(*) >= t) }`` nested inside an outer BGP —
    the aggregation runs ONCE in the subquery (grouped pre-aggregation
    below the join, exactly the TPC-H Q13-style plan Catalyst cannot
    derive if the engine forced the join first), HAVING hoists its
    aggregate into a hidden output column of the same single
    aggregation, and the ``[ .. ]`` existential lowers to a fresh
    variable. High-volume ContentPartners only — the HAVING threshold
    genuinely filters at the graded scale."""

    return SQ.select_query(_sparql_person_quads(spark, sf_dir), _SUBSELECT_TEXT)


KG_SELECT_SUBQUERY_TEXT_ORACLE = """
WITH per_org AS (
  SELECT c_nationkey AS k, COUNT(*) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey
)
SELECT 'OR-' || CAST(k AS VARCHAR) AS maintainer_id, n AS n_entities
FROM per_org
WHERE k % 5 <> 4 AND n >= 600
"""


def kg_path_text_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ``p+`` FROM QUERY TEXT (A71): ``?node <urn:kg:partOf>+
    ?ancestor`` over the store's containment hierarchy — the text
    compiler now parses the ``+``/``*``/``?`` postfix modifiers and
    lowers them to the pointer-doubling closure operator (A28's
    machinery: ceil(log2(depth)) keyed self-joins of the pair set,
    exact pair-count fixpoint — never a corpus re-scan), so closure
    queries compose with BGPs, inverse paths and graph scoping from
    verbatim query text. Same edge relation as A28/A28b
    (_hierarchy_edges), so the text path and the hand-built plan can
    never diverge."""

    edges = _hierarchy_edges(spark, sf_dir)
    quads = edges.select(
        F.col("child").alias("subject"),
        F.lit("urn:kg:partOf").alias("predicate"),
        F.col("parent").alias("object"),
        F.lit(None).cast("string").alias("lang"),
        F.lit("urn:kg:hierarchy").alias("graph"),
    )
    return SQ.select_query(
        quads,
        "SELECT ?node ?ancestor WHERE { ?node <urn:kg:partOf>+ ?ancestor }",
    )


KG_PATH_TEXT_CLOSURE_ORACLE = """
WITH RECURSIVE edges AS (
  SELECT 'O' || CAST(o_orderkey AS VARCHAR) AS child,
         'C' || CAST(o_custkey AS VARCHAR) AS parent
  FROM orders
  UNION ALL
  SELECT 'C' || CAST(c_custkey AS VARCHAR),
         'N' || CAST(c_nationkey AS VARCHAR)
  FROM customer
  UNION ALL
  SELECT 'N' || CAST(n_nationkey AS VARCHAR),
         'R' || CAST(n_regionkey AS VARCHAR)
  FROM nation
), closure AS (
  SELECT child AS node, parent AS ancestor FROM edges
  UNION
  SELECT c.node, e.parent
  FROM closure c JOIN edges e ON c.ancestor = e.child
)
SELECT node, ancestor FROM closure
"""


def kg_path_nps_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL NEGATED PROPERTY SET from query text (A73): ``?o
    !(<status>|<odate>) ?v`` — any predicate OUTSIDE the member set
    (SPARQL 1.1 §9.1), the last path form the text grammar lacked.
    Lowered to a NOT-IN predicate filter on the quad scan; by
    construction a negation can't be served from a posting list, so
    this is the one pattern shape that scans the whole store — same
    as any RDF engine. Composes with a plain BGP here (status = 'F'
    orders keep their non-status, non-date attributes)."""

    orders = load_table(spark, sf_dir, "orders")
    okey = F.concat(F.lit("O"), F.col("o_orderkey").cast("string"))

    def q(pred: str, val) -> Column:
        return F.struct(
            okey.cast("string").alias("subject"),
            F.lit(pred).alias("predicate"),
            val.cast("string").alias("object"),
            F.lit(None).cast("string").alias("lang"),
            F.lit("urn:kg:meta").alias("graph"),
        )

    quads = orders.select(
        F.inline(
            F.array(
                q("urn:kg:status", F.col("o_orderstatus")),
                q("urn:kg:prio", F.col("o_orderpriority")),
                q("urn:kg:odate", F.col("o_orderdate")),
            )
        )
    )
    return SQ.select_query(
        quads,
        'SELECT ?o ?v WHERE { ?o <urn:kg:status> "F" . '
        "?o !(<urn:kg:status>|<urn:kg:odate>) ?v }",
    )


KG_PATH_NPS_TEXT_ORACLE = """
SELECT 'O' || CAST(o_orderkey AS VARCHAR) AS o, o_orderpriority AS v
FROM orders WHERE o_orderstatus = 'F'
"""


def kg_path_nps_inverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATED PROPERTY SET WITH INVERSE MEMBERS (A73b, SPARQL 1.1
    §9.1): ``?o !(<status>|^<placed>) ?v`` matches (o,v) when some
    triple (o,p,v) has p outside the FORWARD members, or some triple
    (v,q,o) has q outside the INVERSE members — lowered as the union
    of the forward complement scan and the role-swapped complement
    scan (operators/sparql parse_path: ("alt", [nps, inv(nps)])).
    Here ?o's forward arcs are status/prio and its incoming arcs are
    placed/owns: the forward complement yields the prio values, the
    inverse complement yields the owning customers (placed is
    excluded)."""

    orders = load_table(spark, sf_dir, "orders")
    okey = F.concat(F.lit("O"), F.col("o_orderkey").cast("string"))
    cust = F.concat(F.lit("C"), F.col("o_custkey").cast("string"))

    def q(s, pred: str, val) -> Column:
        return F.struct(
            s.cast("string").alias("subject"),
            F.lit(pred).alias("predicate"),
            val.cast("string").alias("object"),
            F.lit(None).cast("string").alias("lang"),
            F.lit("urn:kg:meta").alias("graph"),
        )

    quads = orders.select(
        F.inline(
            F.array(
                q(okey, "urn:kg:status", F.col("o_orderstatus")),
                q(okey, "urn:kg:prio", F.col("o_orderpriority")),
                q(cust, "urn:kg:placed", okey),
                q(cust, "urn:kg:owns", okey),
            )
        )
    ).filter(  # owns only for every third order: the inverse
        # complement must see a real subset, not a mirror of placed
        (F.col("predicate") != "urn:kg:owns")
        | (F.expr("CAST(substring(object, 2) AS BIGINT) % 3") == 0)
    )
    return SQ.select_query(
        quads,
        'SELECT ?o ?v WHERE { ?o <urn:kg:status> "F" . '
        "?o !(<urn:kg:status>|^<urn:kg:placed>) ?v }",
    )


KG_PATH_NPS_INVERSE_ORACLE = """
SELECT 'O' || CAST(o_orderkey AS VARCHAR) AS o, o_orderpriority AS v
FROM orders WHERE o_orderstatus = 'F'
UNION
SELECT 'O' || CAST(o_orderkey AS VARCHAR), 'C' || CAST(o_custkey AS VARCHAR)
FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 0
"""


KG_UPDATE_REAL_TEXT_ORACLE = """
WITH b AS (
  SELECT CASE WHEN o_orderkey % 2 = 0
              THEN 'https://data.hetarchief.be/id/entity/'
                   || CAST(o_orderkey AS VARCHAR)
              ELSE 'https://data.hetarchief.be/id/entity/'
                   || CAST(o_orderkey AS VARCHAR) || '/rep'
         END AS s,
         'https://data.hetarchief.be/id/license/' ||
           CASE WHEN o_orderkey % 11 = 9 THEN 'VIAA-ONDERWIJS'
                ELSE 'VIAA-ONDERZOEK' END AS lic,
         'https://data.hetarchief.be/graph/metadata/OR-'
           || CAST(c_nationkey AS VARCHAR) AS g
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderkey % 11 IN (9, 10)
)
SELECT 'delete' AS op, s AS subject,
       'https://schema.org/license' AS predicate, lic AS object,
       CAST(NULL AS VARCHAR) AS lang, g AS graph
FROM b
UNION ALL
SELECT 'insert', s, 'https://schema.org/license',
       'https://data.hetarchief.be/id/license/Publiek-Domein',
       CAST(NULL AS VARCHAR), g
FROM b
UNION ALL
SELECT 'insert', s,
       'https://data.hetarchief.be/ns/description/relicensedFrom', lic,
       CAST(NULL AS VARCHAR), g
FROM b
"""


# ---------------------------------------------------------------------------
# A67f: newspaper.sparql verbatim (the full issue/page detail query)

_NP_SPARQL = "newspaper.sparql"


def kg_construct_real_query_issues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """newspaper.sparql VERBATIM — the reference's largest production
    CONSTRUCT run end-to-end (465 lines, ~40 union branches over issue/
    page detail; typescript/queries/newspaper.sparql, read at run time).
    Adds to the verbatim surface: a VARIABLE-PREDICATE triple
    (?ie ?role_pred ?role classified by an IF chain), IF with an
    unbound-variable else-arm (LocalIdentifier rows keep their value
    triples but drop :type), EXISTS-in-expression against a property
    path (BIND(EXISTS{?pc ebucore:hasCaptioning/rdf:type ..} AS ?b)
    emitting a boolean object), an inverse-path event join (^eror:sou),
    thesauri labels behind nested GRAPH, per-branch langMatches with
    seeded wrong-language negatives, and a VALUES mime whitelist with a
    seeded disallowed sibling."""

    text = load_reference_query(_NP_SPARQL)
    return SQ.construct_query(_sparql_person_quads(spark, sf_dir), text)


def _np_oracle() -> str:
    """Build the DuckDB mirror of newspaper.sparql over the v3 store.

    Arms mirror the query's union branches one-for-one against the
    seeding moduli in _sparql_person_quads; UNION (not UNION ALL)
    matches the construct's output-triple DISTINCT."""
    P = "'urn:kg-to-postgres:"
    ie = "ie"

    def v(expr: str) -> str:
        return f"CAST({expr} AS VARCHAR)"

    arms: list[str] = []

    def arm(subj: str, pred: str, obj: str, where: str = "", frm: str = "qual"):
        w = f" WHERE {where}" if where else ""
        arms.append(
            f"SELECT {subj} AS subject, {P}{pred}' AS predicate, "
            f"{obj} AS object FROM {frm}{w}"
        )

    def node3(node: str, table: str, val_pred: str, val: str, where: str = "",
              key_pred: str = "intellectual_entity_id", key: str = "ie"):
        arm(node, "tableName", f"'graph.{table}'", where)
        arm(node, key_pred, key, where)
        arm(node, val_pred, val, where)

    # required block
    arm(ie, "tableName", "'graph.intellectual_entity'")
    arm(ie, "id", ie)
    arm(ie, "schema_identifier", f"'id-' || {v('k')}")
    arm(ie, "schema_name", f"'Uitgave ' || {v('k % 61')}")
    arm(ie, "schema_maintainer", "org")
    node3("ie || '/dcterms_format/' || md5(fmt)", "dcterms_format",
          "dcterms_format", "fmt")
    node3("ie || '/prov'", "mh_fragment_identifier",
          "mh_fragment_identifier", f"'frag-' || {v('k')}")
    node3("ie || '/schema_license/' || md5(lic)", "schema_license",
          "schema_license", "lic")
    # attribute-node unions
    node3(f"ie || '/schema_alternate_name/' || md5('Alt ' || {v('k % 19')})",
          "schema_alternate_name", "schema_alternate_name",
          f"'Alt ' || {v('k % 19')}", "k % 5 = 2")
    node3("ie || '/schema_in_language/' || md5(lang3)", "schema_in_language",
          "schema_in_language", "lang3", "k % 7 = 6")
    node3(f"ie || '/schema_keywords/' || md5('kw-' || {v('k % 11')})",
          "schema_keywords", "schema_keywords",
          f"'kw-' || {v('k % 11')}", "k % 13 = 2")
    node3(f"ie || '/schema_genre/' || md5('genre-' || {v('k % 7')})",
          "schema_genre", "schema_genre",
          f"'genre-' || {v('k % 7')}", "k % 13 = 4")
    node3(f"ie || '/schema_spatial/' || md5('Plaats ' || {v('k % 23')})",
          "schema_spatial", "schema_spatial",
          f"'Plaats ' || {v('k % 23')}", "k % 7 = 1")
    node3(f"ie || '/schema_temporal/' || md5('jaren ' || {v('k % 10')} || '0')",
          "schema_temporal", "schema_temporal",
          f"'jaren ' || {v('k % 10')} || '0'", "k % 7 = 3")
    # scalar ie attributes
    arm(ie, "schema_date_created", f"'18' || {v('k % 40 + 50')} || '-03-01'",
        "k % 7 = 2")
    arm(ie, "ha_des_min_date_created", f"'18' || {v('k % 40 + 50')} || '-01-01'",
        "k % 7 = 2 AND k % 5 < 2")
    arm(ie, "ha_des_max_date_created", f"'18' || {v('k % 40 + 50')} || '-12-31'",
        "k % 7 = 2 AND k % 5 >= 3")
    arm(ie, "schema_date_published", f"'19' || {v('k % 80 + 10')} || '-06-01'",
        "k % 7 = 5")
    arm(ie, "ha_des_min_date_published", f"'19' || {v('k % 80 + 10')} || '-01-01'",
        "k % 7 = 5 AND k % 5 < 2")
    arm(ie, "ha_des_max_date_published", f"'19' || {v('k % 80 + 10')} || '-12-31'",
        "k % 7 = 5 AND k % 5 >= 3")
    arm(ie, "schema_description", f"'Beschrijving ' || {v('k % 31')}", "k % 5 = 1")
    arm(ie, "schema_abstract", f"'Samenvatting ' || {v('k % 17')}", "k % 5 = 3")
    arm(ie, "schema_position", v("k % 50"), "k % 9 = 6")
    arm(ie, "ha_des_number_of_pages", v("k % 40 + 1"), "k % 9 = 5")
    arm(ie, "schema_issue_number", f"'nr. ' || {v('k % 99')}", "k % 8 = 3")
    arm(ie, "relation_is_part_of", "ie || '/rep'", "k % 2 = 1")
    arm(ie, "dcterms_available", f"{v('k % 25 + 2000')} || '-05-05'", "k % 5 = 4")
    arm(ie, "ebucore_has_object_type", "'krant'", "k % 13 = 1")
    arm(ie, "ebucore_has_cast_member", f"'Cast ' || {v('k % 9')}", "k % 17 = 2")
    arm(ie, "schema_copyright_year", v("k % 90 + 1900"), "k % 5 = 2")
    arm(ie, "schema_copyright_notice", f"'copyright ' || {v('k % 5')}", "k % 13 = 3")
    arm(ie, "dcterms_rights", f"'rechten ' || {v('k % 4')}", "k % 13 = 5")
    arm(ie, "schema_credit_text", f"'Credit ' || {v('k % 6')}", "k % 13 = 7")
    arm(ie, "ebucore_synopsis", f"'Synopsis ' || {v('k % 21')}", "k % 13 = 9")
    arm(ie, "bibframe_edition", f"'Editie ' || {v('k % 6')}",
        "k % 11 = 4 AND k % 22 <> 15")
    # premis identifiers (type dropped for LocalIdentifier)
    pid_node = ("ie || '/premis_identifier/' || "
                "md5('https://data.hetarchief.be/id/identifier/' || " + v("k") + ")")
    arm(pid_node, "tableName", "'graph.premis_identifier'", "k % 5 = 0")
    arm(pid_node, "intellectual_entity_id", "ie", "k % 5 = 0")
    arm(pid_node, "value", f"'pid-' || {v('k')}", "k % 5 = 0")
    arm(pid_node, "type",
        "CASE WHEN k % 3 = 0 THEN 'primary' ELSE 'MeemooIdentifier' END",
        "k % 5 = 0 AND k % 3 < 2")
    # copyright holder (thesauri label XOR org-graph name)
    ch_val = (f"CASE WHEN k % 8 = 2 THEN 'Holder T ' || {v('k % 15')} "
              f"ELSE 'Holder N ' || {v('k % 15')} END")
    node3(f"ie || '/schema_copyright_holder/' || md5({ch_val})",
          "schema_copyright_holder", "schema_copyright_holder", ch_val,
          "k % 4 = 2")
    # roles & things
    role_type = ("CASE k % 3 WHEN 0 THEN 'schema_creator' "
                 "WHEN 1 THEN 'schema_contributor' ELSE 'schema_publisher' END")
    thing = "'https://data.hetarchief.be/id/thing/t' || " + v("k")
    arm("ie || '/role'", "tableName", "'graph.schema_role'", "k % 4 < 3")
    arm("ie || '/role'", "id", "ie || '/role'", "k % 4 < 3")
    arm("ie || '/role'", "type", role_type, "k % 4 < 3")
    arm("ie || '/role'", "intellectual_entity_id", "ie", "k % 4 < 3")
    arm("ie || '/role'", "schema_role_name", f"'rol ' || {v('k % 5')}", "k % 4 < 3")
    arm("ie || '/role'", "thing_id", thing, "k % 4 < 3")
    arm(thing, "tableName", "'graph.thing'", "k % 4 < 3")
    arm(thing, "id", thing, "k % 4 < 3")
    arm(thing, "schema_name", f"'Maker ' || {v('k % 33')}", "k % 4 < 3")
    # collections
    coll = "'https://data.hetarchief.be/id/collection/c' || " + v("k % 29")
    ctype = ("CASE (k % 29) % 5 WHEN 0 THEN 'episode' WHEN 1 THEN 'archive' "
             "WHEN 2 THEN 'series' WHEN 3 THEN 'season' ELSE 'program' END")
    arm(f"ie || '/collection/' || md5({coll})", "tableName",
        "'graph.schema_is_part_of'", "k % 7 = 0")
    arm(f"ie || '/collection/' || md5({coll})", "intellectual_entity_id", "ie",
        "k % 7 = 0")
    arm(f"ie || '/collection/' || md5({coll})", "type", ctype, "k % 7 = 0")
    arm(f"ie || '/collection/' || md5({coll})", "collection_id", coll, "k % 7 = 0")
    ccoll = "'https://data.hetarchief.be/id/collection/c' || " + v("cn")
    cctype = ("CASE cn % 5 WHEN 0 THEN 'episode' WHEN 1 THEN 'archive' "
              "WHEN 2 THEN 'series' WHEN 3 THEN 'season' ELSE 'program' END")
    arm(ccoll, "tableName", "'graph.collection'", frm="colls")
    arm(ccoll, "id", ccoll, frm="colls")
    arm(ccoll, "collection_type", cctype, frm="colls")
    arm(ccoll, "schema_name", f"'Collectie ' || {v('cn')}", frm="colls")
    arm(ccoll, "schema_season_number", v("cn % 12"), "cn % 4 = 1", frm="colls")
    arm(ccoll, "schema_is_part_of",
        "'https://data.hetarchief.be/id/collection/parent' || " + v("cn"),
        "cn % 4 = 3", frm="colls")
    # carrier (cq = carrier-arm qualification)
    cq = "k % 6 = 3 AND k % 12 <> 9"
    pc = "ie || '/pc'"
    arm(pc, "tableName", "'graph.carrier'", cq)
    arm(pc, "id", pc, cq)
    arm(pc, "intellectual_entity_id", "ie", cq)
    arm(pc, "schema_name", f"'Drager ' || {v('k % 12')}", cq)
    arm(pc, "premis_medium", f"'Medium ' || {v('k % 4')}", cq)
    arm(pc, "ebucore_has_captioning",
        "CASE WHEN k % 10 = 7 THEN 'true' ELSE 'false' END", cq)
    arm(pc, "bibframe_production_method", f"'Methode ' || {v('k % 3')}",
        f"{cq} AND k % 5 = 0")
    arm(pc, "schema_identifier", f"'carr-' || {v('k')}", f"{cq} AND k % 7 = 1")
    arm(pc, "digitization_date", f"{v('k % 8 + 2015')} || '-02-02'",
        f"{cq} AND k % 5 = 1")
    arm(pc, "schema_height", f"{v('k % 300')} || ' mm'", f"{cq} AND k % 4 = 3")
    arm(pc, "schema_width", f"{v('k % 200')} || ' mm'", f"{cq} AND k % 5 = 2")
    arm(pc, "schema_material_extent", f"'dozen ' || {v('k % 4')}",
        f"{cq} AND k % 5 = 3")
    arm(pc, "schema_material", "'papier'", f"{cq} AND k % 5 = 4")
    # digital representation + file (rq = rep-arm qualification)
    rq = "k % 8 = 7 AND k % 24 <> 23 AND k % 5 <> 4"
    rep = "ie || '/drep'"
    fil = "ie || '/dfile'"
    arm(rep, "tableName", "'graph.representation'", rq)
    arm(rep, "id", rep, rq)
    arm(rep, "premis_represents", "ie", rq)
    arm(rep, "schema_name", f"'Weergave ' || {v('k % 5')}", rq)
    arm(rep, "schema_in_language", "'nl'", f"{rq} AND k % 5 = 1")
    arm(rep, "relation_has_root", f"'urn:hsr2:' || {v('k')}", f"{rq} AND k % 5 = 2")
    arm(rep, "relation_has_source", f"'urn:hss2:' || {v('k')}", f"{rq} AND k % 5 = 3")
    arm(rep, "edm_is_next_in_sequence", f"'urn:rprev:' || {v('k')}",
        f"{rq} AND k % 13 = 5")
    arm(rep, "schema_caption", f"'urn:rcap:' || {v('k')}", f"{rq} AND k % 13 = 7")
    arm(rep, "schema_transcript", f"'tr ' || {v('k % 9')}", f"{rq} AND k % 13 = 9")
    arm(f"{fil} || '/' || md5({rep})", "tableName", "'graph.includes'", rq)
    arm(f"{fil} || '/' || md5({rep})", "representation_id", rep, rq)
    arm(f"{fil} || '/' || md5({rep})", "file_id", fil, rq)
    arm(fil, "tableName", "'graph.file'", rq)
    arm(fil, "id", fil, rq)
    arm(fil, "ebucore_has_mime_type",
        "list_extract(['image/jpeg','application/xml','image/jp2','text/plain'],"
        " k % 5 + 1)", rq)
    arm(fil, "schema_name", f"'bestand ' || {v('k % 7')}", rq)
    arm(fil, "premis_original_name", f"'orig_' || {v('k')} || '.jp2'", rq)
    arm(fil, "premis_stored_at", f"'s3://np/' || {v('k')}", rq)
    arm(fil, "edm_is_next_in_sequence", f"'urn:fprev2:' || {v('k')}",
        f"{rq} AND k % 7 = 1")
    arm(fil, "schema_thumbnail_url", f"'https://t2/' || {v('k')}",
        f"{rq} AND k % 7 = 3")
    arm(fil, "schema_duration", f"'PT' || {v('k % 60')} || 'S'",
        f"{rq} AND k % 7 = 5")

    body = "\n  UNION\n  ".join(arms)
    return f"""
WITH qual AS (
  SELECT o_orderkey AS k,
         'https://data.hetarchief.be/id/entity/' || CAST(o_orderkey AS VARCHAR) AS ie,
         'https://data.hetarchief.be/id/organization/OR-' || CAST(c_nationkey AS VARCHAR) AS org,
         CASE WHEN o_orderkey % 9 = 5 THEN 'newspaper' ELSE 'newspaperpage' END AS fmt,
         list_extract(['VIAA-PUBLIEK-METADATA-LTD','VIAA-PUBLIEK-METADATA-ALL',
                       'VIAA-PUBLIEK-CONTENT','BEZOEKERTOOL-METADATA-ALL',
                       'BEZOEKERTOOL-CONTENT','VIAA-INTRA_CP-METADATA-ALL',
                       'VIAA-INTRA_CP-CONTENT','Publiek-Domein',
                       'COPYRIGHT-UNDETERMINED'], o_orderkey % 11 + 1) AS lic,
         list_extract(['nl','fr','de'], o_orderkey % 3 + 1) AS lang3
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderkey % 9 IN (5, 6)
    AND o_orderkey % 11 < 9
    AND c_nationkey % 5 <> 4
), colls AS (
  SELECT DISTINCT k % 29 AS cn FROM qual WHERE k % 7 = 0
), t AS (
  {body}
)
SELECT subject, predicate, object FROM t
"""


KG_REAL_QUERY_NP_ORACLE = _np_oracle()


# ---------------------------------------------------------------------------
# A67g/h/i: av-audio / av-video / av-complex verbatim

_AV_AUDIO_SPARQL = "av-audio.sparql"
_AV_VIDEO_SPARQL = "av-video.sparql"
_AV_COMPLEX_SPARQL = "av-complex.sparql"


def _run_verbatim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:

    text = load_reference_query(name)
    return SQ.construct_query(_sparql_person_quads(spark, sf_dir), text)


def kg_construct_real_query_av_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """av-audio.sparql VERBATIM (521 lines) — the av trio's audio cut.
    Adds to the verbatim surface: DIRECT-license-only qualification (no
    rel:isp path — only even-keyed ies qualify), license-name
    suppression via IF(?lic IN (..), ?unbound, REPLACE(..)) (public-
    content/public-domain AV objects emit NO schema_license rows), reel
    second-types labelled from a THIRD auxiliary graph
    (graph:ontologies rdfs:label), coloringType OPTIONAL behind nested
    thesauri langMatches, FragmentRepresentation with start/end times
    linked to files by an INVERSE media-fragment path
    (rel:isi|^ebucore:isMediaFragmentOf), and the peak-file chain
    (?file rel:isi/rel:inc ?peak with FILTER contains(.., "peak") — a
    seeded wave_ sibling must drop)."""
    return _run_verbatim(spark, sf_dir, _AV_AUDIO_SPARQL)


def kg_construct_real_query_av_audio_org(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """av-audio.sparql VERBATIM with ?maintainer_id BOUND — the
    reference's per-organisation fan-out (1_kg_view_construct.ts:47-63
    runs every query once per OR id with maintainer_id injected;
    helpers.ts:62-89 declares the parameter). The binding constrains
    the ``?schema_maintainer org:identifier ?maintainer_id`` pattern
    (operators/sparql._bind_params_in_group — the engine-side
    equivalent of TriplyDB's text substitution) and flows into the
    ``BIND(iri(concat(...metadata/, ?maintainer_id)))`` graph
    selection, so ONE organisation's metadata graph is read. The
    result equals the unscoped av-audio run filtered to that org
    (pinned by tests/test_sparql.py)."""

    text = load_reference_query(_AV_AUDIO_SPARQL)
    return SQ.construct_query(
        _sparql_person_quads(spark, sf_dir),
        text,
        params={"maintainer_id": "OR-3"},
    )


def kg_construct_real_query_av_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """av-video.sparql VERBATIM — same grammar as av-audio minus the
    peak block, Video-typed ies, image/jpeg added to the mime
    whitelist (the seeded application/xml sibling still drops)."""
    return _run_verbatim(spark, sf_dir, _AV_VIDEO_SPARQL)


def kg_construct_real_query_av_complex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """av-complex.sparql VERBATIM — the Film/DVD/DVDChapter cut: a
    THREE-VALUE ie-type VALUES over the same av grammar."""
    return _run_verbatim(spark, sf_dir, _AV_COMPLEX_SPARQL)


def _av_oracle(type_cond: str, n_mimes: int, peaks: bool) -> str:
    """DuckDB mirror for the av trio, parameterized by the ie-type
    condition, the mime-whitelist size (audio excludes image/jpeg) and
    the peak-file block (av-audio only). Only even keys qualify (the av
    queries accept direct licenses only; odd keys carry theirs via
    rel:isp), so the odd-gated newspaper arms (rel:isp, pageNumber,
    issueNumber, the odd carrier/rep populations) are structurally
    empty and omitted."""
    P = "'urn:kg-to-postgres:"
    ie = "ie"

    def v(expr: str) -> str:
        return f"CAST({expr} AS VARCHAR)"

    arms: list[str] = []

    def arm(subj: str, pred: str, obj: str, where: str = "", frm: str = "qual"):
        w = f" WHERE {where}" if where else ""
        arms.append(
            f"SELECT {subj} AS subject, {P}{pred}' AS predicate, "
            f"{obj} AS object FROM {frm}{w}"
        )

    def node3(node: str, table: str, val_pred: str, val: str, where: str = ""):
        arm(node, "tableName", f"'graph.{table}'", where)
        arm(node, "intellectual_entity_id", ie, where)
        arm(node, val_pred, val, where)

    arm(ie, "tableName", "'graph.intellectual_entity'")
    arm(ie, "id", ie)
    arm(ie, "schema_identifier", f"'id-' || {v('k')}")
    arm(ie, "schema_name", f"'Uitgave ' || {v('k % 61')}")
    arm(ie, "schema_maintainer", "org")
    node3("ie || '/dcterms_format/' || md5(fmt)", "dcterms_format",
          "dcterms_format", "fmt")
    node3("ie || '/prov'", "mh_fragment_identifier",
          "mh_fragment_identifier", f"'frag-' || {v('k')}")
    # IF(?lic IN (PUBLIEK-CONTENT, Publiek-Domein), ?unbound, ..):
    # suppressed license rows for k%11 in (2, 7)
    node3("ie || '/schema_license/' || md5(lic)", "schema_license",
          "schema_license", "lic", "k % 11 NOT IN (2, 7)")
    node3(f"ie || '/schema_alternate_name/' || md5('Alt ' || {v('k % 19')})",
          "schema_alternate_name", "schema_alternate_name",
          f"'Alt ' || {v('k % 19')}", "k % 5 = 2")
    node3("ie || '/schema_in_language/' || md5(lang3)", "schema_in_language",
          "schema_in_language", "lang3", "k % 7 = 6")
    node3(f"ie || '/schema_keywords/' || md5('kw-' || {v('k % 11')})",
          "schema_keywords", "schema_keywords",
          f"'kw-' || {v('k % 11')}", "k % 13 = 2")
    node3(f"ie || '/schema_genre/' || md5('genre-' || {v('k % 7')})",
          "schema_genre", "schema_genre",
          f"'genre-' || {v('k % 7')}", "k % 13 = 4")
    node3(f"ie || '/schema_spatial/' || md5('Plaats ' || {v('k % 23')})",
          "schema_spatial", "schema_spatial",
          f"'Plaats ' || {v('k % 23')}", "k % 7 = 1")
    node3(f"ie || '/schema_temporal/' || md5('jaren ' || {v('k % 10')} || '0')",
          "schema_temporal", "schema_temporal",
          f"'jaren ' || {v('k % 10')} || '0'", "k % 7 = 3")
    arm(ie, "schema_date_created", f"'18' || {v('k % 40 + 50')} || '-03-01'",
        "k % 7 = 2")
    arm(ie, "ha_des_min_date_created", f"'18' || {v('k % 40 + 50')} || '-01-01'",
        "k % 7 = 2 AND k % 5 < 2")
    arm(ie, "ha_des_max_date_created", f"'18' || {v('k % 40 + 50')} || '-12-31'",
        "k % 7 = 2 AND k % 5 >= 3")
    arm(ie, "schema_date_published", f"'19' || {v('k % 80 + 10')} || '-06-01'",
        "k % 7 = 5")
    arm(ie, "ha_des_min_date_published", f"'19' || {v('k % 80 + 10')} || '-01-01'",
        "k % 7 = 5 AND k % 5 < 2")
    arm(ie, "ha_des_max_date_published", f"'19' || {v('k % 80 + 10')} || '-12-31'",
        "k % 7 = 5 AND k % 5 >= 3")
    arm(ie, "schema_description", f"'Beschrijving ' || {v('k % 31')}", "k % 5 = 1")
    arm(ie, "schema_abstract", f"'Samenvatting ' || {v('k % 17')}", "k % 5 = 3")
    arm(ie, "dcterms_available", f"{v('k % 25 + 2000')} || '-05-05'", "k % 5 = 4")
    arm(ie, "ebucore_has_object_type", "'krant'", "k % 13 = 1")
    arm(ie, "ebucore_has_cast_member", f"'Cast ' || {v('k % 9')}", "k % 17 = 2")
    arm(ie, "schema_copyright_year", v("k % 90 + 1900"), "k % 5 = 2")
    arm(ie, "schema_copyright_notice", f"'copyright ' || {v('k % 5')}", "k % 13 = 3")
    arm(ie, "dcterms_rights", f"'rechten ' || {v('k % 4')}", "k % 13 = 5")
    arm(ie, "schema_credit_text", f"'Credit ' || {v('k % 6')}", "k % 13 = 7")
    arm(ie, "ebucore_synopsis", f"'Synopsis ' || {v('k % 21')}", "k % 13 = 9")
    pid_node = ("ie || '/premis_identifier/' || "
                "md5('https://data.hetarchief.be/id/identifier/' || " + v("k") + ")")
    arm(pid_node, "tableName", "'graph.premis_identifier'", "k % 5 = 0")
    arm(pid_node, "intellectual_entity_id", "ie", "k % 5 = 0")
    arm(pid_node, "value", f"'pid-' || {v('k')}", "k % 5 = 0")
    arm(pid_node, "type",
        "CASE WHEN k % 3 = 0 THEN 'primary' ELSE 'MeemooIdentifier' END",
        "k % 5 = 0 AND k % 3 < 2")
    ch_val = (f"CASE WHEN k % 8 = 2 THEN 'Holder T ' || {v('k % 15')} "
              f"ELSE 'Holder N ' || {v('k % 15')} END")
    node3(f"ie || '/schema_copyright_holder/' || md5({ch_val})",
          "schema_copyright_holder", "schema_copyright_holder", ch_val,
          "k % 4 = 2")
    role_type = ("CASE k % 3 WHEN 0 THEN 'schema_creator' "
                 "WHEN 1 THEN 'schema_contributor' ELSE 'schema_publisher' END")
    thing = "'https://data.hetarchief.be/id/thing/t' || " + v("k")
    arm("ie || '/role'", "tableName", "'graph.schema_role'", "k % 4 < 3")
    arm("ie || '/role'", "id", "ie || '/role'", "k % 4 < 3")
    arm("ie || '/role'", "type", role_type, "k % 4 < 3")
    arm("ie || '/role'", "intellectual_entity_id", "ie", "k % 4 < 3")
    arm("ie || '/role'", "schema_role_name", f"'rol ' || {v('k % 5')}", "k % 4 < 3")
    arm("ie || '/role'", "thing_id", thing, "k % 4 < 3")
    arm(thing, "tableName", "'graph.thing'", "k % 4 < 3")
    arm(thing, "id", thing, "k % 4 < 3")
    arm(thing, "schema_name", f"'Maker ' || {v('k % 33')}", "k % 4 < 3")
    coll = "'https://data.hetarchief.be/id/collection/c' || " + v("k % 29")
    ctype = ("CASE (k % 29) % 5 WHEN 0 THEN 'episode' WHEN 1 THEN 'archive' "
             "WHEN 2 THEN 'series' WHEN 3 THEN 'season' ELSE 'program' END")
    arm(f"ie || '/collection/' || md5({coll})", "tableName",
        "'graph.schema_is_part_of'", "k % 7 = 0")
    arm(f"ie || '/collection/' || md5({coll})", "intellectual_entity_id", "ie",
        "k % 7 = 0")
    arm(f"ie || '/collection/' || md5({coll})", "type", ctype, "k % 7 = 0")
    arm(f"ie || '/collection/' || md5({coll})", "collection_id", coll, "k % 7 = 0")
    ccoll = "'https://data.hetarchief.be/id/collection/c' || " + v("cn")
    cctype = ("CASE cn % 5 WHEN 0 THEN 'episode' WHEN 1 THEN 'archive' "
              "WHEN 2 THEN 'series' WHEN 3 THEN 'season' ELSE 'program' END")
    arm(ccoll, "tableName", "'graph.collection'", frm="colls")
    arm(ccoll, "id", ccoll, frm="colls")
    arm(ccoll, "collection_type", cctype, frm="colls")
    arm(ccoll, "schema_name", f"'Collectie ' || {v('cn')}", frm="colls")
    arm(ccoll, "schema_season_number", v("cn % 12"), "cn % 4 = 1", frm="colls")
    arm(ccoll, "schema_is_part_of",
        "'https://data.hetarchief.be/id/collection/parent' || " + v("cn"),
        "cn % 4 = 3", frm="colls")
    # av carrier (even population; en-name negative at k%20==10)
    cq = "k % 20 = 0"
    pc = "ie || '/pc'"
    arm(pc, "tableName", "'graph.carrier'", cq)
    arm(pc, "id", pc, cq)
    arm(pc, "intellectual_entity_id", "ie", cq)
    arm(pc, "schema_name", f"'Drager ' || {v('k % 12')}", cq)
    arm(pc, "premis_medium", f"'Medium ' || {v('k % 4')}", cq)
    arm(pc, "ebucore_has_captioning",
        "CASE WHEN k % 11 = 0 THEN 'true' ELSE 'false' END", cq)
    arm(pc, "bibframe_production_method", f"'Methode ' || {v('k % 3')}",
        f"{cq} AND k % 7 = 0")
    arm(pc, "schema_identifier", f"'carr-' || {v('k')}", f"{cq} AND k % 7 = 1")
    arm(pc, "digitization_date", f"{v('k % 8 + 2015')} || '-02-02'",
        f"{cq} AND k % 7 = 2")
    arm(pc, "schema_height", f"{v('k % 300')} || ' mm'", f"{cq} AND k % 7 = 3")
    arm(pc, "schema_width", f"{v('k % 200')} || ' mm'", f"{cq} AND k % 7 = 4")
    arm(pc, "schema_material_extent", f"'dozen ' || {v('k % 4')}",
        f"{cq} AND k % 7 = 5")
    arm(pc, "schema_material", "'papier'", f"{cq} AND k % 7 = 6")
    arm(pc, "type",
        "CASE WHEN k % 9 = 0 THEN 'Geluidsband' ELSE 'Beeldband' END",
        f"{cq} AND k % 13 < 6")
    ct_val = f"'Kleur ' || {v('k % 13')}"
    arm(f"{pc} || '/ha_des_coloring_type/' || md5({ct_val})", "tableName",
        "'graph.ha_des_coloring_type'", f"{cq} AND k % 13 < 2")
    arm(f"{pc} || '/ha_des_coloring_type/' || md5({ct_val})", "carrier_id", pc,
        f"{cq} AND k % 13 < 2")
    arm(f"{pc} || '/ha_des_coloring_type/' || md5({ct_val})",
        "ha_des_coloring_type", ct_val, f"{cq} AND k % 13 < 2")
    # av representation + file
    rq = f"k % 14 = 0 AND k % 11 <> 3 AND k % 5 < {n_mimes}"
    rep = "CASE WHEN k % 28 = 0 THEN ie || '/adrep' ELSE ie || '/frep' END"
    fil = "ie || '/afile'"
    arm(rep, "tableName", "'graph.representation'", rq)
    arm(rep, "id", rep, rq)
    arm(rep, "premis_represents", "ie", rq)
    arm(rep, "schema_name", f"'AV weergave ' || {v('k % 5')}", rq)
    arm(rep, "schema_start_time", v("k % 100"), f"{rq} AND k % 28 = 14")
    arm(rep, "schema_end_time", v("k % 100 + 10"), f"{rq} AND k % 28 = 14")
    arm(rep, "is_media_fragment_of", fil, f"{rq} AND k % 28 = 14")
    arm(rep, "schema_in_language", "'nl'", f"{rq} AND k % 11 = 0")
    arm(rep, "relation_has_root", f"'urn:avhsr:' || {v('k')}", f"{rq} AND k % 11 = 1")
    arm(rep, "relation_has_source", f"'urn:avhss:' || {v('k')}",
        f"{rq} AND k % 11 = 2")
    arm(rep, "edm_is_next_in_sequence", f"'urn:avprev:' || {v('k')}",
        f"{rq} AND k % 11 = 4")
    arm(rep, "schema_caption", f"'urn:avcap:' || {v('k')}", f"{rq} AND k % 11 = 5")
    arm(rep, "schema_transcript", f"'avtr ' || {v('k % 9')}", f"{rq} AND k % 11 = 6")
    arm(f"{fil} || '/' || md5({rep})", "tableName", "'graph.includes'", rq)
    arm(f"{fil} || '/' || md5({rep})", "representation_id", rep, rq)
    arm(f"{fil} || '/' || md5({rep})", "file_id", fil, rq)
    arm(fil, "tableName", "'graph.file'", rq)
    arm(fil, "id", fil, rq)
    arm(fil, "ebucore_has_mime_type",
        "list_extract(['video/mp4','audio/mp4','audio/mpeg','image/jpeg'],"
        " k % 5 + 1)", rq)
    arm(fil, "schema_name", f"'av bestand ' || {v('k % 6')}", rq)
    arm(fil, "premis_original_name", f"'av_' || {v('k')} || '.mp4'", rq)
    arm(fil, "premis_stored_at", f"'s3://av/' || {v('k')}", rq)
    arm(fil, "edm_is_next_in_sequence", f"'urn:avfprev:' || {v('k')}",
        f"{rq} AND k % 13 = 0")
    arm(fil, "schema_thumbnail_url", f"'https://avt/' || {v('k')}",
        f"{rq} AND k % 13 = 1")
    arm(fil, "schema_duration", f"'PT' || {v('k % 60')} || 'S'",
        f"{rq} AND k % 13 = 2")
    if peaks:
        pq = f"{rq} AND k % 28 = 0 AND k % 13 < 6"
        pkn = "ie || '/peak'"
        arm(f"{pkn} || '/' || md5(ie || '/adrep')", "tableName",
            "'graph.includes'", pq)
        arm(f"{pkn} || '/' || md5(ie || '/adrep')", "representation_id",
            "ie || '/adrep'", pq)
        arm(f"{pkn} || '/' || md5(ie || '/adrep')", "file_id", pkn, pq)
        arm(pkn, "tableName", "'graph.file'", pq)
        arm(pkn, "id", pkn, pq)
        arm(pkn, "ebucore_has_mime_type", "'application/json'", pq)
        arm(pkn, "schema_name", f"'piek ' || {v('k % 4')}", pq)
        arm(pkn, "premis_original_name", f"'peak_' || {v('k')} || '.json'", pq)
        arm(pkn, "premis_stored_at", f"'s3://peak/' || {v('k')}", pq)
        arm(pkn, "edm_is_next_in_sequence", f"'urn:pkprev:' || {v('k')}",
            f"{pq} AND k % 13 = 0")
        arm(pkn, "schema_thumbnail_url", f"'https://pk/' || {v('k')}",
            f"{pq} AND k % 13 = 1")
        arm(pkn, "schema_duration", f"'PT' || {v('k % 30')} || 'S'",
            f"{pq} AND k % 13 = 2")

    body = "\n  UNION\n  ".join(arms)
    return f"""
WITH qual AS (
  SELECT o_orderkey AS k,
         'https://data.hetarchief.be/id/entity/' || CAST(o_orderkey AS VARCHAR) AS ie,
         'https://data.hetarchief.be/id/organization/OR-' || CAST(c_nationkey AS VARCHAR) AS org,
         list_extract(['audio','video','film','dvd','dvdchapter'],
                      o_orderkey % 9 + 1) AS fmt,
         list_extract(['VIAA-PUBLIEK-METADATA-LTD','VIAA-PUBLIEK-METADATA-ALL',
                       'VIAA-PUBLIEK-CONTENT','BEZOEKERTOOL-METADATA-ALL',
                       'BEZOEKERTOOL-CONTENT','VIAA-INTRA_CP-METADATA-ALL',
                       'VIAA-INTRA_CP-CONTENT','Publiek-Domein',
                       'COPYRIGHT-UNDETERMINED'], o_orderkey % 11 + 1) AS lic,
         list_extract(['nl','fr','de'], o_orderkey % 3 + 1) AS lang3
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE {type_cond}
    AND o_orderkey % 2 = 0
    AND o_orderkey % 11 < 9
    AND c_nationkey % 5 <> 4
), colls AS (
  SELECT DISTINCT k % 29 AS cn FROM qual WHERE k % 7 = 0
), t AS (
  {body}
)
SELECT subject, predicate, object FROM t
"""


# ---------------------------------------------------------------------------
# A68: the reference's full view pipeline composed — CONSTRUCT a
# production query verbatim, then pivot its triple stream into the
# postgres-shaped record table, exactly what 1_kg_view_construct.ts +
# 2_database_load.ts/stream.ts do (reference stream.ts:78-105: group
# quads by subject, ``tableName`` predicate selects the target table,
# every other urn:kg-to-postgres: predicate becomes a column).

_KG_VIEW_NS = "urn:kg-to-postgres:"


def flow_kg_view_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference view pipeline END-TO-END: person.sparql VERBATIM
    (A67) -> triple stream -> record pivot -> the graph.thing table,
    the exact composition kg_view_flow.py + arc_db_load_flow.py
    execute against TriplyDB/Postgres (construct, stream-pivot by
    tableName, upsert). The pivot is the composed pipeline's
    (``reference_pipeline.pivot_wide`` + ``table_from_wide``). The
    upsert step is merge_upsert (A5) / fk_merge_order (A13); this
    entry grades the construct->records hand-off itself."""
    from prefect_flow_arc_kg_postgres_etl_spark.plans import (
        reference_pipeline as RP,
    )

    triples = kg_construct_real_query(spark, sf_dir)
    return RP.table_from_wide(
        RP.pivot_wide(triples),
        "graph.thing",
        ["id", "schema_name", "schema_birth_date", "schema_birth_place",
         "schema_death_date", "schema_death_place"],
    )


def _kg_view_load_oracle() -> str:
    """Pivot the person-query oracle's triple set the same way: the
    triple-level equality is graded by A67; this grades the pivot."""
    cols = ["id", "schema_name", "schema_birth_date", "schema_birth_place",
            "schema_death_date", "schema_death_place"]
    case = ",\n         ".join(
        f"MIN(CASE WHEN predicate = '{_KG_VIEW_NS}{c}' THEN object END) AS {c}"
        for c in cols
    )
    return f"""
WITH triples AS ({KG_REAL_QUERY_ORACLE})
SELECT subject,
         {case}
FROM triples
WHERE subject IN (
  SELECT subject FROM triples
  WHERE predicate = '{_KG_VIEW_NS}tableName' AND object = 'graph.thing'
)
GROUP BY subject
"""


KG_VIEW_LOAD_ORACLE = _kg_view_load_oracle()


KG_REAL_QUERY_AV_AUDIO_ORACLE = _av_oracle("o_orderkey % 9 = 0", 3, True)
# maintainer_id = 'OR-3' scopes the run to nationkey 3's metadata graph
KG_REAL_QUERY_AV_AUDIO_ORG_ORACLE = _av_oracle(
    "o_orderkey % 9 = 0 AND c_nationkey = 3", 3, True
)
KG_REAL_QUERY_AV_VIDEO_ORACLE = _av_oracle("o_orderkey % 9 = 1", 4, False)
KG_REAL_QUERY_AV_COMPLEX_ORACLE = _av_oracle(
    "o_orderkey % 9 IN (2, 3, 4)", 4, False
)


KG_REAL_QUERY_IIIF_ORACLE = """
WITH qual AS (
  SELECT o_orderkey AS okey,
         'https://data.hetarchief.be/id/entity/' || CAST(o_orderkey AS VARCHAR) AS ie,
         'https://data.hetarchief.be/id/entity/' || CAST(o_orderkey AS VARCHAR)
           || '/iiif' AS rep,
         'https://data.hetarchief.be/id/entity/' || CAST(o_orderkey AS VARCHAR)
           || '/iiif/file' AS file
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderkey % 9 IN (5, 6)
    AND o_orderkey % 11 < 9
    AND c_nationkey % 5 <> 4
    AND o_orderkey % 2 = 0            -- has an IIIF copy
), t AS (
  SELECT rep AS subject, 'urn:kg-to-postgres:tableName' AS predicate,
         'graph.representation' AS object FROM qual
  UNION
  SELECT rep, 'urn:kg-to-postgres:id', rep FROM qual
  UNION
  SELECT rep, 'urn:kg-to-postgres:premis_represents', ie FROM qual
  UNION
  SELECT rep, 'urn:kg-to-postgres:schema_name',
         'IIIF weergave ' || CAST(okey % 5 AS VARCHAR) FROM qual
  UNION
  SELECT rep, 'urn:kg-to-postgres:schema_in_language', 'nl'
  FROM qual WHERE okey % 10 = 0
  UNION
  SELECT rep, 'urn:kg-to-postgres:relation_has_root',
         'urn:hsr:' || CAST(okey AS VARCHAR) FROM qual WHERE okey % 10 = 2
  UNION
  SELECT rep, 'urn:kg-to-postgres:relation_has_source',
         'urn:hss:' || CAST(okey AS VARCHAR) FROM qual WHERE okey % 10 = 4
  UNION
  SELECT rep, 'urn:kg-to-postgres:edm_is_next_in_sequence',
         'urn:prev:' || CAST(okey AS VARCHAR) FROM qual WHERE okey % 10 = 6
  UNION
  SELECT rep, 'urn:kg-to-postgres:schema_caption',
         'urn:cap:' || CAST(okey AS VARCHAR) FROM qual WHERE okey % 10 = 8
  UNION
  SELECT rep, 'urn:kg-to-postgres:schema_transcript',
         'transcript ' || CAST(okey % 11 AS VARCHAR) FROM qual WHERE okey % 20 = 0
  UNION
  SELECT file || '/' || md5(rep), 'urn:kg-to-postgres:tableName',
         'graph.includes' FROM qual
  UNION
  SELECT file || '/' || md5(rep), 'urn:kg-to-postgres:representation_id', rep
  FROM qual
  UNION
  SELECT file || '/' || md5(rep), 'urn:kg-to-postgres:file_id', file FROM qual
  UNION
  SELECT file, 'urn:kg-to-postgres:tableName', 'graph.file' FROM qual
  UNION
  SELECT file, 'urn:kg-to-postgres:id', file FROM qual
  UNION
  SELECT file, 'urn:kg-to-postgres:ebucore_has_mime_type', 'image/jp2' FROM qual
  UNION
  SELECT file, 'urn:kg-to-postgres:schema_name',
         'pagina ' || CAST(okey % 7 AS VARCHAR) FROM qual
  UNION
  SELECT file, 'urn:kg-to-postgres:premis_original_name',
         'scan_' || CAST(okey AS VARCHAR) || '.jp2' FROM qual
  UNION
  SELECT file, 'urn:kg-to-postgres:premis_stored_at',
         's3://iiif/' || CAST(okey AS VARCHAR) FROM qual
  UNION
  SELECT file, 'urn:kg-to-postgres:edm_is_next_in_sequence',
         'urn:fprev:' || CAST(okey AS VARCHAR) FROM qual WHERE okey % 14 = 0
  UNION
  SELECT file, 'urn:kg-to-postgres:schema_thumbnail_url',
         'https://t/' || CAST(okey AS VARCHAR) FROM qual WHERE okey % 14 = 2
  UNION
  SELECT file, 'urn:kg-to-postgres:schema_duration',
         'PT' || CAST(okey % 60 AS VARCHAR) || 'S' FROM qual WHERE okey % 14 = 4
)
SELECT subject, predicate, object FROM t
"""


# ---------------------------------------------------------------------------
# The per-organisation fan-out runner (1_kg_view_construct.ts:47-63):
# when OR_IDS is set the reference runs EVERY production query once per
# OR id with ?maintainer_id injected; organization.sparql declares no
# maintainer parameter and always runs globally.

_REFERENCE_QUERY_SPECS: dict[str, tuple] = {}


def _init_reference_query_specs() -> None:
    _REFERENCE_QUERY_SPECS.update(
        {
            "person": (_PERSON_SPARQL, _sparql_person_quads, {}),
            "organization": (_ORG_SPARQL, _sparql_org_quads, {}),
            "deletes": (
                _DEL_SPARQL,
                _sparql_del_quads,
                {"since": _DEL_SINCE, "prefix_id_base": _SQ_NS["ent"]},
            ),
            "newspaper-collection": (
                _NEWS_SPARQL,
                _sparql_person_quads,
                {},
            ),
            "iiif": (_IIIF_SPARQL, _sparql_person_quads, {}),
            "newspaper": (_NP_SPARQL, _sparql_person_quads, {}),
            "av-audio": (_AV_AUDIO_SPARQL, _sparql_person_quads, {}),
            "av-video": (_AV_VIDEO_SPARQL, _sparql_person_quads, {}),
            "av-complex": (_AV_COMPLEX_SPARQL, _sparql_person_quads, {}),
        }
    )


_init_reference_query_specs()


def run_reference_query_scoped(
    spark: SparkSession,
    sf_dir: str,
    slug: str,
    maintainer_id: str | None = None,
) -> DataFrame:
    """Run one production query by slug, optionally scoped to a single
    organisation — the engine-side form of the reference's per-OR
    pipeline fan-out. The injected ?maintainer_id constrains the
    ``?schema_maintainer org:identifier ?maintainer_id`` pattern and
    the derived ?ORGraph graph selection, so one organisation's
    metadata graph is read (same machinery A75 pins for av-audio)."""

    name, quads_fn, base = _REFERENCE_QUERY_SPECS[slug]
    params = dict(base)
    if maintainer_id is not None and slug != "organization":
        params["maintainer_id"] = maintainer_id
    text = load_reference_query(name)
    return SQ.construct_query(
        quads_fn(spark, sf_dir), text, params=params or None
    )
