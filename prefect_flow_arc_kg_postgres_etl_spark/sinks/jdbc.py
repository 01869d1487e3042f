"""JDBC (Postgres-style) sink.

The reference loads per-table batches into temp tables and merges into
targets DB-side (typescript/src/database.ts:168-254: ``MERGE INTO`` on
the primary keys, or clear-then-insert for multi-value tables). On
Spark the same contract splits into:

- ``jdbc_writer`` — the bulk-load leg: a configured
  ``DataFrameWriter`` for ``spark.write.jdbc`` (partitioned parallel
  inserts, batched statements, truncate-not-drop for full sync). The
  JDBC driver jar is a deploy-time concern; assembling the writer is
  pure config and testable offline.
- ``merge_statement`` / ``clear_statement`` — DB-side SQL generators
  mirroring the reference's merge queries, for engines where the final
  hop runs in the warehouse.
- ``stage_then_merge`` — the engine-side alternative used throughout
  this repo: apply the distributed upsert (operators/merge.py) to the
  batch and land the converged table in one write. The batch is not
  copied to a staging table first; its row count is observed in that
  write. Works at any scale with no DB round-trip in the data path.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prefect_flow_arc_kg_postgres_etl_spark.sources.store import read_parquet


def jdbc_options(
    url: str,
    table: str,
    batchsize: int = 10_000,
    num_partitions: int | None = None,
    truncate: bool = False,
    options: dict[str, str] | None = None,
) -> dict[str, str]:
    """JDBC writer options as a pure dict (testable without a driver
    jar). ``truncate=True`` + mode='overwrite' is the reference's
    full-sync TRUNCATE+INSERT (database.ts:179-184) without dropping
    the table (keeps indexes/grants). ``num_partitions`` caps parallel
    connections; ``batchsize`` batches inserts exactly like the
    reference's per-table record batches (stream.ts:120-160)."""
    opts = {"url": url, "dbtable": table, "batchsize": str(batchsize)}
    if truncate:
        opts["truncate"] = "true"
    if num_partitions is not None:
        opts["numPartitions"] = str(num_partitions)
    opts.update(options or {})
    return opts


def jdbc_writer(df: DataFrame, url: str, table: str, mode: str = "append", **kw):
    """Configured JDBC writer (not yet executed — call ``.save()``).
    The driver jar is a deploy-time concern; option assembly is
    ``jdbc_options`` above."""
    return df.write.format("jdbc").options(**jdbc_options(url, table, **kw)).mode(mode)


def merge_statement(table: str, staging: str, keys: list[str], columns: list[str]) -> str:
    """The reference's MERGE INTO (database.ts:214-222), generated for a
    staged batch: update matched on the PKs, insert new."""
    on = " AND ".join(f"x.{k} = y.{k}" for k in keys)
    sets = ", ".join(f"{c} = y.{c}" for c in columns if c not in keys)
    cols = ", ".join(columns)
    vals = ", ".join(f"y.{c}" for c in columns)
    return (
        f"MERGE INTO {table} x USING {staging} y ON {on} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    )


def merge_rewrite_statements(
    table: str, staging: str, keys: list[str], columns: list[str]
) -> list[str]:
    """``MERGE INTO`` rewritten to its SQL-92 equivalent pair for
    engines that predate SQL:2003 MERGE: one ``UPDATE .. FROM`` for
    the MATCHED arm, one anti-joined ``INSERT .. SELECT`` for the NOT
    MATCHED arm — to run in one transaction. Derived from the same
    generator args as ``merge_statement``, so executing the pair
    execution-tests the MERGE's semantics on a live engine (the
    sandbox DuckDB is 1.0; DuckDB executes MERGE verbatim from 1.3).
    The precisely-documented residual dialect gap: the verbatim MERGE
    text parses on Spark's SQL:2003 grammar (Postgres 15's) and its
    semantics execute here, but the text itself has never run on a
    live PostgreSQL."""
    on = " AND ".join(f"{table}.{k} = y.{k}" for k in keys)
    sets = ", ".join(f"{c} = y.{c}" for c in columns if c not in keys)
    cols = ", ".join(columns)
    anti = " AND ".join(f"x.{k} = y.{k}" for k in keys)
    return [
        f"UPDATE {table} SET {sets} FROM {staging} y WHERE {on}",
        f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {staging} y "
        f"WHERE NOT EXISTS (SELECT 1 FROM {table} x WHERE {anti})",
    ]


def execute_merge(
    con, table: str, staging: str, keys: list[str], columns: list[str]
) -> str:
    """Execute the generated merge against a live DB-API connection:
    the verbatim ``MERGE INTO`` where the engine parses it, else the
    ``merge_rewrite_statements`` pair inside one transaction (a parse
    failure happens before any row changes, so falling back is safe).
    Returns which path ran ('merge' | 'rewrite') so tests can assert
    the real coverage."""
    stmt = merge_statement(table, staging, keys, columns)
    try:
        con.execute(stmt)
        return "merge"
    except Exception:
        pass  # engine predates MERGE INTO — run the equivalent pair
    con.execute("BEGIN")
    try:
        for s in merge_rewrite_statements(table, staging, keys, columns):
            con.execute(s)
        con.execute("COMMIT")
    except Exception:
        con.execute("ROLLBACK")
        raise
    return "rewrite"


def upsert_statement(table: str, staging: str, keys: list[str], columns: list[str]) -> str:
    """The reference's non-MERGE upsert path (database.ts:46-49
    ``upsertTable`` + ``assignColumns({from: 'EXCLUDED'})``):
    ``INSERT ... SELECT ... ON CONFLICT (pks) DO UPDATE SET c =
    EXCLUDED.c``. Semantically identical to ``merge_statement`` when
    the staged batch is key-unique (the pivot guarantees one record
    per subject) — both are semantics-tested against an in-process SQL
    engine in tests/test_sinks.py, ending in the same state as the
    distributed ``operators/merge.upsert``."""
    sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in columns if c not in keys)
    cols = ", ".join(columns)
    return (
        f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {staging} "
        f"ON CONFLICT ({', '.join(keys)}) DO UPDATE SET {sets}"
    )


def clear_statement(table: str, staging: str, group_key: str) -> str:
    """Clear-then-insert leg for multi-value tables
    (database.ts:200-211): delete every row whose group key appears in
    the staged batch before inserting the batch."""
    return (
        f"DELETE FROM {table} WHERE {group_key} IN "
        f"(SELECT {group_key} FROM {staging})"
    )


def resumable_stage(
    spark: SparkSession,
    records: DataFrame,
    staging_path: str,
    batch_col: str = "batch_id",
) -> dict[str, int]:
    """Restartable batch staging — the reference resumes an interrupted
    load through record ``_offset``/``_limit`` windows
    (typescript/src/stream.ts:20-60); the Spark-native analogue is
    PARTITION-LEVEL resume:

    - batches land as ``batch_id=N`` partition directories;
    - on restart, already-landed batch ids are read back and the
      corresponding records anti-joined away (broadcast — the batch-id
      set is tiny by construction);
    - the remaining batches write with dynamic partition overwrite, so
      a HALF-written batch dir from the failed attempt is replaced
      whole — staging is idempotent per batch under retry.

    Returns {"written": n, "skipped": n} batch counts (the progress
    accounting a restartable loader reports)."""
    try:
        done = (
            read_parquet(spark, staging_path).select(batch_col).distinct()
        )
        n_done = done.count()
    except Exception:  # first attempt: nothing staged yet
        done, n_done = None, 0
    todo = records
    if n_done:
        todo = records.join(F.broadcast(done), on=batch_col, how="left_anti")
    n_todo = todo.select(batch_col).distinct().count()
    if n_todo:
        (
            todo.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(batch_col)
            .parquet(staging_path)
        )
    return {"written": n_todo, "skipped": n_done}


class MergeResult(NamedTuple):
    """What ``stage_then_merge`` landed: the table (read back from the
    landed version) and the row counts its one write observed: the
    batch (``staged``, the rows of the source frame as given, the
    reference's temp-table load) and the merged table (``merged``, the
    rows of the landed version; the counts the reference's
    ``MERGE INTO`` statements return)."""

    table: DataFrame
    staged: int
    merged: int


def stage_then_merge(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    keys: list[str],
    merge: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
    watermark: str | None = None,
) -> MergeResult:
    """Engine-side merge: converge the batch ``source`` into the target
    with ``merge(target, batch)`` and land the result as the target's
    next version. The default merge is the distributed source-wins
    upsert on ``keys`` (database.ts's ``MERGE INTO``); a multi-value
    table passes its clear-then-insert on the group key instead. The
    reference's temp table has no copy here: the batch is read once,
    inside the merge's write, and nothing is written but the new
    version (``store.write_table``: staged privately, published
    atomically).

    Returns a ``MergeResult``: the merged table read back from the
    landed target, plus the batch and merged row counts. Both are
    observed in the one write (an ``Observation`` on the batch, one on
    the merged frame), the landed table is read back with the schema
    just written, and the target's read takes its schema from a footer
    on the driver (``store.read_parquet``), so the write is the only
    Spark job. ``watermark`` names a column whose ``max`` over the
    merged frame, which is the whole new version, that write also
    observes and stores with the version (``write_observed``).
    "First load" means ``store.table_exists`` says there is no target;
    any other failure to read or merge the target raises and leaves the
    live version untouched.

    One shuffle on the PKs; at 100 TB the target should be bucketed on
    ``keys`` so repeated merges co-locate. The target is a versioned
    table (sources/store.py): the merge reads version N and lands
    version N+1 with ONE data write + an atomic pointer swap — no
    write-tmp-read-rewrite double I/O."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators import merge as M
    from prefect_flow_arc_kg_postgres_etl_spark.sinks.observed import (
        observe,
        write_observed,
    )
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import (
        conform_to_schema,
    )

    batch, seen = observe(source, rows=F.count(F.lit(1)))
    if store.table_exists(target_path):
        target = store.read_table(spark, target_path)
        # Column-level intersection (get_table_columns.sql analogue):
        # the batch is projected onto the target's columns, so a
        # drifted source schema (extra / missing / retyped columns)
        # still merges — extra columns drop, missing ones land NULL.
        conformed = conform_to_schema(batch, target.schema)
        merged = (
            merge(target, conformed) if merge is not None
            else M.upsert(target, conformed, keys)
        )
    else:  # first load: nothing to merge into
        merged = batch
    n_merged = write_observed(merged, target_path, watermark)
    return MergeResult(
        store.read_table(spark, target_path, merged.schema),
        seen()["rows"],
        n_merged,
    )


def validate_statement_syntax(
    statement: str,
    spark: SparkSession | None = None,
    tables: dict[str, list[str]] | None = None,
    keys: list[str] | None = None,
) -> None:
    """Parse-check a generated DB statement before it ever reaches a
    live connection — the closest thing to executing against Postgres
    available in-process (no DB in the sandbox; semantics are pinned
    separately by the DuckDB state-equivalence tests in
    tests/test_sinks.py):

    - ``MERGE INTO`` goes through SPARK's SQL parser — Spark implements
      the same SQL:2003 MERGE grammar Postgres 15 adopted, so a
      generator typo (stray comma, misspelled clause, unbalanced
      parens) raises ParseException here exactly as psql would.
    - ``INSERT .. ON CONFLICT`` / ``DELETE`` go through DUCKDB, which
      implements Postgres's dialect for both — and with ``tables``
      given ({name: columns}; ``keys`` become the PRIMARY KEY of the
      first table), shadow tables are created in-memory and the
      statement is EXPLAINed: a full parse + BIND check (unknown
      column, wrong conflict target, arity mismatch all fail), not
      just a grammar pass.

    Raises ValueError wrapping the underlying parser error.
    """
    stmt = statement.lstrip()
    if stmt.upper().startswith("MERGE"):
        if spark is None:  # explicit raise: an assert vanishes under -O
            raise ValueError("MERGE validation needs a SparkSession")
        try:
            spark._jsparkSession.sessionState().sqlParser().parsePlan(stmt)
        except Exception as e:  # pyspark converts the Java
            # ParseException into its own captured exception type, so
            # the catch must be broad; anything raised here IS a parse
            # failure of the generated text.
            raise ValueError(f"generated MERGE failed to parse: {e}") from e
        return
    import duckdb

    con = duckdb.connect()
    try:
        if tables:
            first = True
            for name, cols in tables.items():
                if "." in name:
                    con.execute(
                        f"CREATE SCHEMA IF NOT EXISTS {name.split('.')[0]}"
                    )
                defs = ", ".join(f"{c} VARCHAR" for c in cols)
                pk = (
                    f", PRIMARY KEY ({', '.join(keys)})"
                    if first and keys
                    else ""
                )
                con.execute(f"CREATE TABLE {name} ({defs}{pk})")
                first = False
            con.execute("EXPLAIN " + stmt)
        else:
            # grammar-only: bind errors about missing tables pass, real
            # syntax errors do not
            try:
                con.execute("EXPLAIN " + stmt)
            except duckdb.CatalogException:
                pass
    except (
        duckdb.ParserException,
        duckdb.BinderException,
        # shadow-table path: a statement referencing a table/schema not
        # in ``tables`` is a validation failure like any binder error —
        # wrap it in the documented ValueError instead of leaking a raw
        # duckdb exception (the grammar-only path above still tolerates
        # CatalogException by design: no shadow tables exist there).
        duckdb.CatalogException,
    ) as e:
        raise ValueError(f"generated statement failed to parse: {e}") from e
    finally:
        con.close()
