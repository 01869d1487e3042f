"""Every SPARK_GRAFT_* environment variable the package reads is declared
in README's knob table, and every declared one is still read: a new knob
must be listed (with its default, reader and reason) to pass."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
KNOB = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")


def _package_knobs() -> set[str]:
    pkg = ROOT / "prefect_flow_arc_kg_postgres_etl_spark"
    return {
        name
        for path in pkg.rglob("*.py")
        for name in KNOB.findall(path.read_text(encoding="utf-8"))
    }


def _readme_table_knobs() -> set[str]:
    lines = (ROOT / "README.md").read_text(encoding="utf-8").splitlines()
    names: set[str] = set()
    if "## Configuration knobs" not in lines:
        return names
    start = lines.index("## Configuration knobs")
    for line in lines[start + 1:]:
        if line.startswith("## "):
            break
        if line.startswith("|"):
            first_cell = line.split("|")[1]
            names.update(KNOB.findall(first_cell))
    return names


def test_every_knob_is_in_the_readme_table():
    declared = _readme_table_knobs()
    assert declared, "README has no knob table"
    assert _package_knobs() == declared
