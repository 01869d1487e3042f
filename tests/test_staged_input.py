"""``store.staged_input``: a build-once input is served only once its
build has been published whole, by one rename, under a key that tracks
the content of its source files."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import textwrap
import threading
from pathlib import Path

import pytest

from prefect_flow_arc_kg_postgres_etl_spark.sources import store

ROOT = Path(__file__).resolve().parent.parent
_PARTS = [f"part-{i}" for i in range(5)]


@pytest.fixture
def source(tmp_path, monkeypatch):
    """A source file, with the temp dir moved under ``tmp_path``."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    src = tmp_path / "docs.parquet"
    src.write_bytes(b"source bytes")
    return src


def _builder(calls: list, marker: str = "x"):
    """A build that writes every part, recording each call."""

    def build(out: str) -> None:
        calls.append(out)
        os.makedirs(out)
        for part in _PARTS:
            (Path(out) / part).write_text(marker)

    return build


def test_a_killed_build_leaves_a_stage_that_is_never_served(source):
    """A process killed mid-build leaves its ``._stage_*`` dir behind;
    the next caller builds again and serves its own published dir."""
    script = textwrap.dedent(f"""
        import os
        from prefect_flow_arc_kg_postgres_etl_spark.sources import store

        def build(out):
            os.makedirs(out)
            open(os.path.join(out, "part-0"), "w").write("half")
            os._exit(3)

        store.staged_input("t_v1", [{str(source)!r}], build)
    """)
    env = {**os.environ, "TMPDIR": tempfile.gettempdir()}
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert done.returncode == 3, done.stderr
    root = Path(tempfile.gettempdir(), store._STAGED_INPUTS)
    (leftover,) = os.listdir(root)
    assert "._stage_" in leftover

    calls: list = []
    path = store.staged_input("t_v1", [str(source)], _builder(calls))
    assert len(calls) == 1
    assert sorted(os.listdir(path)) == _PARTS
    assert os.path.basename(path) == leftover.split("._stage_")[0]


def test_a_build_that_raises_publishes_nothing(source):
    def half(out: str) -> None:
        os.makedirs(out)
        (Path(out) / "part-0").write_text("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        store.staged_input("t_v1", [str(source)], half)
    assert os.listdir(Path(tempfile.gettempdir(), store._STAGED_INPUTS)) == []

    calls: list = []
    path = store.staged_input("t_v1", [str(source)], _builder(calls))
    again = store.staged_input("t_v1", [str(source)], _builder(calls))
    assert path == again and len(calls) == 1
    assert sorted(os.listdir(path)) == _PARTS


def test_racing_builders_publish_once(source):
    """Two threads miss on one key and build at the same time: one
    rename publishes, the loser drops its stage, and both serve the
    whole published dir."""
    both_building = threading.Barrier(2, timeout=30)
    calls: list = []

    def build_for(marker: str):
        write = _builder(calls, marker)

        def build(out: str) -> None:
            both_building.wait()
            write(out)

        return build

    served = {}

    def run(marker: str) -> None:
        served[marker] = store.staged_input(
            "t_v1", [str(source)], build_for(marker)
        )

    threads = [threading.Thread(target=run, args=(m,)) for m in "ab"]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(calls) == 2
    assert served["a"] == served["b"]
    path = served["a"]
    assert os.listdir(os.path.dirname(path)) == [os.path.basename(path)]
    assert sorted(os.listdir(path)) == _PARTS
    markers = {(Path(path) / p).read_text() for p in _PARTS}
    assert markers in ({"a"}, {"b"})


def test_a_touched_source_changes_the_key(source):
    calls: list = []
    first = store.staged_input("t_v1", [str(source)], _builder(calls))
    st = source.stat()
    os.utime(source, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    second = store.staged_input("t_v1", [str(source)], _builder(calls))
    assert second != first and len(calls) == 2
    assert store.staged_input("t_v2", [str(source)], _builder(calls)) not in (
        first,
        second,
    )
