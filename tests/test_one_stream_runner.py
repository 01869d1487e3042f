"""Every Structured Streaming query in the package starts, waits, stops
and reads back through ``streaming.sync._run``, and every stream source
is built by ``streaming.sync.table_stream``. A ``writeStream``,
``.trigger(...)`` or ``awaitTermination`` anywhere but the runner, a
``readStream`` anywhere but the source helper, or a
``processAllAvailable`` anywhere fails this test."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "prefect_flow_arc_kg_postgres_etl_spark"

# Streaming API name -> the one function allowed to use it (None: none).
_OWNER = {
    "writeStream": "_run",
    "trigger": "_run",
    "awaitTermination": "_run",
    "readStream": "table_stream",
    "processAllAvailable": None,
}


def stream_calls(source: str, owners: dict[str, str | None]) -> list[tuple[int, str]]:
    """(line, name) of every use of a streaming API name in ``source``
    outside the function ``owners`` allows it in."""
    tree = ast.parse(source)
    inside: dict[int, str] = {}
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef):
            for node in ast.walk(fn):
                inside.setdefault(id(node), fn.name)
    return sorted(
        (node.lineno, node.attr)
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and node.attr in _OWNER
        and inside.get(id(node)) != owners.get(node.attr)
    )


def test_checker_flags_streaming_calls_outside_their_owner():
    source = "\n".join(
        [
            "def _run(df):",
            "    q = df.writeStream.trigger(availableNow=True).start()",
            "    q.awaitTermination()",
            "def table_stream(spark, p):",
            "    return spark.readStream.parquet(p)",
            "def other(spark, df, p):",
            "    spark.readStream.parquet(p)",
            "    q = df.writeStream.trigger(once=True).start()",
            "    q.processAllAvailable()",
            "    q.awaitTermination()",
        ]
    )
    assert stream_calls(source, _OWNER) == [
        (7, "readStream"),
        (8, "trigger"),
        (8, "writeStream"),
        (9, "processAllAvailable"),
        (10, "awaitTermination"),
    ]


def test_package_streams_through_one_runner():
    found = []
    for path in PKG.rglob("*.py"):
        # The owners are the functions in streaming/sync.py; a function
        # of the same name in another module owns nothing.
        owners = _OWNER if path == PKG / "streaming" / "sync.py" else {}
        found += [
            f"{path.relative_to(ROOT)}:{line} {name}"
            for line, name in stream_calls(path.read_text(encoding="utf-8"), owners)
        ]
    assert not found, found
