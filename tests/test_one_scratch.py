"""Every scratch dir in the package comes from ``session.scratch_dir``,
which sweeps its process root at interpreter exit, and every
build-once input from ``sources.store.staged_input``. A
``tempfile.mkdtemp``, ``gettempdir`` or ``TemporaryDirectory``
anywhere else in the package fails this test; so does a builder that
leaves anything in the temp dir or under the scratch base once its
process has exited."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import tempfile
import textwrap
import zipfile
from pathlib import Path

from prefect_flow_arc_kg_postgres_etl_spark import session
from prefect_flow_arc_kg_postgres_etl_spark.plans import registry
from prefect_flow_arc_kg_postgres_etl_spark.sources.store import _STAGED_INPUTS
from tests.conftest import SF_SMOKE

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "prefect_flow_arc_kg_postgres_etl_spark"
_TEMP_NAMES = {"mkdtemp", "gettempdir", "TemporaryDirectory"}
# file name -> the function in it that owns scratch space
_OWNERS = {"session.py": "scratch_dir", "store.py": "staged_input"}


def temp_uses(source: str, skip_function: str | None = None) -> list[int]:
    """Line numbers that name a temp-dir maker of ``tempfile`` in
    ``source``, outside the function named ``skip_function``."""
    tree = ast.parse(source)
    skipped: set[int] = set()
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef) and fn.name == skip_function:
            skipped.update(id(n) for n in ast.walk(fn))
    found = set()
    for node in ast.walk(tree):
        if id(node) in skipped:
            continue
        if isinstance(node, ast.Attribute) and node.attr in _TEMP_NAMES:
            found.add(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "tempfile":
            if any(a.name in _TEMP_NAMES for a in node.names):
                found.add(node.lineno)
    return sorted(found)


def test_checker_flags_temp_dirs_only():
    source = "\n".join(
        [
            "tempfile.mkdtemp(prefix='x_')",
            "f'{tempfile.gettempdir()}/y'",
            "with tempfile.TemporaryDirectory() as d: pass",
            "from tempfile import mkdtemp",
            "scratch_dir(spark, 'x_')",
            "tempfile.NamedTemporaryFile()",
            "def scratch_dir(spark, prefix):",
            "    return tempfile.mkdtemp(prefix=prefix)",
        ]
    )
    assert temp_uses(source) == [1, 2, 3, 4, 8]
    assert temp_uses(source, "scratch_dir") == [1, 2, 3, 4]


def test_package_makes_scratch_dirs_in_one_place():
    found = []
    for path in PKG.rglob("*.py"):
        source = path.read_text(encoding="utf-8")
        for line in temp_uses(source, _OWNERS.get(path.name)):
            found.append(f"{path.relative_to(ROOT)}:{line}")
    assert not found, sorted(found)


def test_remote_scratch_base_keeps_python_writers_local(
    spark, tmp_path, monkeypatch
):
    """A remote-scheme scratch base (hdfs://, s3a://) serves only
    ``shared=True`` callers. Every other scratch dir, such as the one
    that holds the package zip shipped to workers, is written with
    Python file APIs and goes under the local temp dir. The remote
    base is a local dir that ``is_remote_path`` is patched to call
    remote, so no remote filesystem is touched."""
    remote = tmp_path / "remote"
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_SPILL_DIR", str(remote))
    monkeypatch.setattr(
        session, "is_remote_path", lambda p: p.startswith(str(remote))
    )
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    monkeypatch.setattr(session, "_SCRATCH_ROOTS", {})
    monkeypatch.setattr(registry, "_SHIPPED", set())
    shipped = []
    monkeypatch.setattr(spark.sparkContext, "addPyFile", shipped.append)

    registry._ensure_package_on_workers(spark)
    [zip_path] = shipped
    assert zip_path.startswith(str(tmp)), zip_path
    with zipfile.ZipFile(zip_path) as zf:
        assert "prefect_flow_arc_kg_postgres_etl_spark/session.py" in zf.namelist()

    local = session.scratch_dir(spark, "store_")
    assert local.startswith(str(tmp)) and os.path.isdir(local), local
    shared = session.scratch_dir(spark, "spill_", shared=True)
    assert shared.startswith(f"{remote}/"), shared
    assert not remote.exists()

    session._remove_scratch_roots()
    assert os.listdir(tmp) == []


_LEAK_ENTRIES = [
    "source_ttl_roundtrip",
    "stream_windowed_watermarked",
    "stream_interval_join_outer",
    "flow_full_sync",
    "multimodal_binary_source",
]


def test_builders_leave_no_scratch_behind(tmp_path):
    """Round-trip, streaming (sink and checkpoint), scratch-store and
    binary-landing builders run in a child process whose temp dir and
    scratch base are both under ``tmp_path``. Once it has exited, the
    scratch base is empty and the temp dir holds published staged
    inputs at most."""
    tmp = tmp_path / "tmp"
    base = tmp_path / "scratch"
    tmp.mkdir()
    base.mkdir()
    script = textwrap.dedent(f"""
        from prefect_flow_arc_kg_postgres_etl_spark.plans import registry
        from prefect_flow_arc_kg_postgres_etl_spark.session import get_spark

        spark = get_spark("scratch-leak", cpus=2)
        queries = registry.queries()
        for name in {_LEAK_ENTRIES!r}:
            assert queries[name](spark, {SF_SMOKE!r}).count() > 0, name
    """)
    env = {
        **os.environ,
        "TMPDIR": str(tmp),
        "SPARK_GRAFT_SPILL_DIR": str(base),
        "SPARK_DRIVER_MEMORY": "1g",
    }
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-4000:]
    assert os.listdir(base) == []
    left = set(os.listdir(tmp))
    assert left <= {_STAGED_INPUTS}, sorted(left)
    if left:
        staged = os.listdir(tmp / _STAGED_INPUTS)
        assert not [n for n in staged if "._stage_" in n], staged
