"""Triple-model operators: the knowledge-graph layer.

The reference's data model is an RDF graph streamed as triples; its two
fundamental moves are
  (1) CONSTRUCT: pattern-match the graph, emit relational-shaped triples
      (typescript/queries/*.sparql via 1_kg_view_construct.ts), and
  (2) record pivot: consecutive same-subject triples -> one wide record
      (typescript/src/stream.ts:51-116 RecordContructor).

Spark-first redesign:
- A graph is a DataFrame (subject, predicate, object, lang). ``melt``
  turns any relational table into that shape (pure projection + stack —
  narrow, no shuffle, scan-fused).
- ``pivot_records`` is ONE hash aggregation keyed by subject: for each
  wanted column take the value with the smallest (lang_priority, object)
  — deterministic at any parallelism, unlike the reference's
  stream-order-dependent first-value rule. lang='nl' overrides, as in
  stream.ts:97-103.
- CONSTRUCT itself is ``operators/sparql``: query text compiled to
  scans and joins over the same quad DataFrame ``melt`` produces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def melt(
    df: DataFrame,
    key: str,
    columns: list[str] | None = None,
    subject_prefix: str = "",
    graph: str | None = None,
) -> DataFrame:
    """Wide table -> (subject, predicate, object string, lang, graph)
    quads.

    Inverse of the reference's record pivot; lang is NULL (testdata has
    no language-tagged literals). ``graph`` names the named graph these
    triples live in (SPARQL ``GRAPH ?g { ... }`` scoping — the
    reference's TriplyDB store is quad-shaped, person.sparql:51); NULL
    means the default graph. stack() is a generator expression — no
    shuffle, runs fused with the parquet scan.
    """
    cols = columns or [c for c in df.columns if c != key]
    pairs = ", ".join(f"'{c}', cast(`{c}` as string)" for c in cols)
    subject = F.concat(F.lit(subject_prefix), F.col(key).cast("string"))
    return (
        df.select(
            subject.alias("subject"),
            F.expr(f"stack({len(cols)}, {pairs}) as (predicate, object)"),
        )
        .withColumn("lang", F.lit(None).cast("string"))
        .withColumn("graph", F.lit(graph).cast("string"))
        .filter(F.col("object").isNotNull())
    )


def pivot_records(
    triples: DataFrame,
    predicates: list[str],
    subject_col: str = "subject",
    preferred_lang: str = "nl",
) -> DataFrame:
    """Triples -> one record per subject; first-value-wins, language
    override (stream.ts:51-116).

    Deterministic distributed semantics: per (subject, predicate) keep
    the object of the triple minimizing (lang != preferred_lang, object).
    Single hash-aggregate shuffle on subject; min(struct) gives map-side
    partial aggregation, so the shuffle carries one row per
    (subject, predicate) — this survives a 100 TB triple scan.
    """
    prio = F.when(F.col("lang") == preferred_lang, 0).otherwise(1)
    picked = F.struct(prio.alias("p"), F.col("object").alias("o"))
    aggs = [
        F.min(F.when(F.col("predicate") == p, picked)).getField("o").alias(p)
        for p in predicates
    ]
    return triples.groupBy(F.col(subject_col).alias("subject")).agg(*aggs)


def to_table_triples(
    records: DataFrame, table_name: str, id_col: str
) -> DataFrame:
    """Tag records with the reference's ':tableName' routing triple
    (stream.ts:90-91 TABLE_PRED) — relational-shaped triples ready for
    the batch/stage step. Kept as a column, not a row, Spark-side."""
    return records.withColumn("table_name", F.lit(table_name)).withColumn(
        "record_id", F.col(id_col).cast("string")
    )


def transitive_closure(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_iters: int = 16,
    known_depth: int | None = None,
) -> DataFrame:
    """SPARQL ``p+`` (one-or-more property path): all (node, ancestor)
    pairs reachable through 1..n ``p`` edges — the transitive-path
    operator ``operators/sparql`` lowers ``p+`` / ``p*`` / ``p?`` to;
    with sequence, alternation and inverse (kg_construct_paths) it
    completes the path algebra.

    POINTER DOUBLING, not one-hop expansion: after iteration k the pair
    set covers paths up to 2^k edges, so a depth-D hierarchy converges
    in ceil(log2(D)) joins instead of D (3 joins reach depth 8). Each
    iteration is one self-join of the pair set on the meet node plus a
    distinct — both shuffles keyed on node ids. Convergence = exact
    pair-count fixpoint (monotone increasing; one scalar agg per
    iteration), with ``max_iters`` bounding adversarial chains (2^16
    hops covered at the default). ``localCheckpoint`` truncates the
    doubling lineage; on a real cluster prefer ``checkpoint`` with a
    reliable dir if executor loss mid-loop must be survivable.

    Cycles are tolerated (the pair set just stops growing); a node is
    NOT its own ancestor unless a cycle makes it one. Output:
    (node, ancestor) distinct pairs.

    ``known_depth``: when the hierarchy's maximum path length is known
    from catalog metadata (an FK chain's depth, a taxonomy's level
    count), pass it to run exactly ceil(log2(depth)) doubling
    iterations with NO per-iteration convergence counts — the
    fixpoint scan exists only to discover the depth, so knowing it
    removes one action per iteration plus the final no-growth
    iteration (measured ~1/3 of wall on the bench hierarchy).
    """
    import math

    paths = (
        edges.select(
            F.col(child_col).alias("node"), F.col(parent_col).alias("ancestor")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    if known_depth is not None:
        for _ in range(max(1, math.ceil(math.log2(max(2, known_depth))))):
            hop = paths.select(
                F.col("node").alias("h_node"), F.col("ancestor").alias("h_anc")
            )
            paths = (
                paths.join(hop, paths.ancestor == hop.h_node)
                .select("node", F.col("h_anc").alias("ancestor"))
                .unionByName(paths)
                .distinct()
                .localCheckpoint(eager=True)
            )
        return paths
    prev_n = paths.count()
    for _ in range(max_iters):
        hop = paths.select(
            F.col("node").alias("h_node"), F.col("ancestor").alias("h_anc")
        )
        doubled = (
            paths.join(hop, paths.ancestor == hop.h_node)
            .select("node", F.col("h_anc").alias("ancestor"))
            .unionByName(paths)
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur_n = doubled.count()
        paths = doubled
        if cur_n == prev_n:
            break
        prev_n = cur_n
    return paths


def pagerank_int(
    edges: DataFrame,
    iters: int = 2,
    scale: int = 1_000_000,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """PageRank in EXACT INTEGER arithmetic — the weighted-iteration
    graph algorithm next to the closure (reachability) and the
    components (connectivity), engine-exactly reproducible the same
    way kmeans_int is: ranks live in ``scale`` units, the damping
    split is integer (85/100), and every contribution is a floor
    division — all values nonnegative, so floor == truncation and
    Spark's ``div`` agrees with any SQL engine's ``//``. That makes
    the ITERATIVE fixpoint SQL-oracle-checkable unrolled, which float
    PageRank cannot (per-iteration ulp drift compounds).

    Per iteration: one join of the edge list to the rank state (keyed
    shuffle), one aggregation of contributions by destination, one
    left join back to the node universe (nodes without in-edges keep
    the base term). Dangling mass (nodes without OUT-edges) is
    DROPPED, the standard simplification — ranks then sum to less
    than ``scale``; documented so the oracle mirrors it. Returns
    (node, rank).

    Edges and the node universe MATERIALIZE once (localCheckpoint,
    the cluster_components precedent): every iteration references
    both, and without truncation the unrolled lineage re-executes the
    edge derivation per reference — measured 35 exchanges for 2
    iterations vs 14 after."""
    edges = edges.localCheckpoint(eager=True)
    src_nodes = edges.select(F.col("src").alias("node"))
    dst_nodes = edges.select(F.col("dst").alias("node"))
    nodes = src_nodes.unionByName(dst_nodes).distinct().localCheckpoint(
        eager=True
    )
    # The node count is a SCALAR over an already-materialized
    # checkpoint: read it once on the driver (bounded, one bigint)
    # and fold it into the plan as a literal, instead of the
    # crossJoin(broadcast(count-agg)) subtree the pre-r12 plan
    # re-evaluated in the init frame AND per iteration (3 extra
    # count-agg + BroadcastNestedLoopJoin stages in the executed
    # plan; guide §2.4 — remove shuffles outright). Integer semantics
    # identical: Python // == Spark div for nonnegative operands.
    n = nodes.count()
    # The out-degree is iteration-INVARIANT: fold it into the edge
    # list once (one join, materialized) instead of re-joining it to
    # the contribution stream every iteration (r6 perf pass — saves a
    # keyed shuffle per iteration).
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = edges.join(outdeg, "src").localCheckpoint(eager=True)
    ranks = nodes.select(
        "node", F.lit(scale // n).cast("long").alias("rank")
    )
    base = scale * (damp_den - damp_num) // (damp_den * n)
    for _ in range(iters):
        contrib = edges_deg.join(
            ranks.select(F.col("node").alias("src"), "rank"), "src"
        ).select(
            "dst",
            F.expr(f"rank * {damp_num} div ({damp_den} * deg)").alias("c"),
        )
        inc = contrib.groupBy("dst").agg(F.sum("c").alias("inc"))
        ranks = (
            nodes
            .join(inc, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.coalesce(F.col("inc"), F.lit(0))
                ).alias("rank"),
            )
        )
    return ranks


def pagerank_int_resumable(
    spark,
    edges: DataFrame,
    store_path: str,
    iters: int = 2,
    scale: int = 1_000_000,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """A48: ``pagerank_int`` with DURABLE iteration state — the
    restartable form of a long iterative job: each completed iteration
    lands the rank table (tagged ``_iter``) as the next version of a
    store table (one atomic pointer swap), so a driver crash loses at
    most the in-flight iteration and the retry RESUMES from the last
    landed one instead of recomputing from rank zero. localCheckpoint
    survives executor memory only; at 100 TB a multi-hour iterative
    job checkpoints to reliable storage exactly like this, and the
    exact integer arithmetic makes resumed-vs-straight-through runs
    BIT-IDENTICAL (float ranks would drift across the write/read
    round-trip). Same fixpoint as pagerank_int — the A43 oracle."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store

    edges = edges.localCheckpoint(eager=True)
    src_nodes = edges.select(F.col("src").alias("node"))
    dst_nodes = edges.select(F.col("dst").alias("node"))
    nodes = src_nodes.unionByName(dst_nodes).distinct().localCheckpoint(
        eager=True
    )
    # Driver-side scalar count of the materialized node set, folded
    # in as a literal — same rationale as pagerank_int (guide §2.4).
    n = nodes.count()
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = edges.join(outdeg, "src").localCheckpoint(eager=True)
    base = scale * (damp_den - damp_num) // (damp_den * n)
    if store.table_exists(store_path):
        state = store.read_table(spark, store_path)
        done = state.select(F.max("_iter")).first()[0]
        ranks = state.select("node", "rank")
    else:
        done = 0
        ranks = nodes.select(
            "node", F.lit(scale // n).cast("long").alias("rank")
        )
        store.write_table(
            ranks.withColumn("_iter", F.lit(0)), store_path
        )
    for it in range(done + 1, iters + 1):
        contrib = edges_deg.join(
            ranks.select(F.col("node").alias("src"), "rank"), "src"
        ).select(
            "dst",
            F.expr(f"rank * {damp_num} div ({damp_den} * deg)").alias("c"),
        )
        inc = contrib.groupBy("dst").agg(F.sum("c").alias("inc"))
        ranks = (
            nodes
            .join(inc, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.coalesce(F.col("inc"), F.lit(0))
                ).alias("rank"),
            )
        )
        store.write_table(ranks.withColumn("_iter", F.lit(it)), store_path)
        # read back the landed version: iteration i+1 consumes STORAGE,
        # not lineage — a restart resolves the identical frame.
        ranks = store.read_table(spark, store_path).select("node", "rank")
    return ranks
