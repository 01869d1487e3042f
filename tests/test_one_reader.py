"""Every batch parquet read in the package goes through
``sources.store.read_parquet``, which takes a schema-less read's schema
from a footer on the driver instead of a Spark job. A bare
``spark.read.parquet(...)`` (or one that only sets ``.schema(...)``)
anywhere else fails this test. Streaming reads (``readStream``) and
reads that pass reader options (``.option(...)``) are not flagged."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "prefect_flow_arc_kg_postgres_etl_spark"


def _is_bare_read(call: ast.Call) -> bool:
    """``<x>.read.parquet(..)`` or ``<x>.read.schema(..).parquet(..)``."""
    if not (isinstance(call.func, ast.Attribute) and call.func.attr == "parquet"):
        return False
    names = []
    node = call.func.value
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
        node = node.func if isinstance(node, ast.Call) else node.value
    return "read" in names and set(names[: names.index("read")]) <= {"schema"}


def bare_reads(source: str, skip_function: str | None = None) -> list[int]:
    """Line numbers of bare batch parquet reads in ``source``, outside
    the function named ``skip_function``."""
    tree = ast.parse(source)
    skipped: set[int] = set()
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef) and fn.name == skip_function:
            skipped.update(id(n) for n in ast.walk(fn))
    return sorted(
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and id(node) not in skipped
        and _is_bare_read(node)
    )


def test_checker_flags_bare_reads_only():
    source = "\n".join(
        [
            "spark.read.parquet(p)",
            "df.sparkSession.read.schema(s).parquet(p)",
            "spark.readStream.schema(s).parquet(p)",
            'spark.read.option("mergeSchema", "true").parquet(p)',
            'df.write.mode("overwrite").parquet(p)',
            "read_parquet(spark, p)",
        ]
    )
    assert bare_reads(source) == [1, 2]


def test_package_reads_parquet_through_one_reader():
    found = {
        f"{path.relative_to(ROOT)}:{line}"
        for path in PKG.rglob("*.py")
        for line in bare_reads(
            path.read_text(encoding="utf-8"),
            "read_parquet" if path.name == "store.py" else None,
        )
    }
    assert not found, sorted(found)
