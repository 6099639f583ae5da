"""Every public package function and class has a caller outside ``tests/``.

A public top-level ``def`` or ``class`` under ``data_profiler_spark/`` must
be referenced by name from a ``.py`` file outside ``tests/`` (the package
itself, ``__spark_entry__.py``, ``jobs/``, ``scripts/``, ``bench.py`` or
``perfbench/``), or be listed in COVERAGE.md's "Uncalled by design" table
as ``library API`` or ``test reference``, with the reason. So a copy that
nothing runs fails here instead of waiting for a review to find it.

Matching is by name: a second definition under a name that runs elsewhere
passes. No Spark session is needed.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "data_profiler_spark"
CALLERS = [PACKAGE, ROOT / "jobs", ROOT / "scripts", ROOT / "perfbench",
           ROOT / "__spark_entry__.py", ROOT / "bench.py"]
MARKS = ("library API", "test reference")


def _py_files(path: Path) -> list[Path]:
    return sorted(path.rglob("*.py")) if path.is_dir() else [path]


def _referenced_names() -> set[str]:
    names: set[str] = set()
    for path in (f for p in CALLERS for f in _py_files(p)):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.update((node.name.rsplit(".", 1)[-1], node.asname or ""))
    return names


def _public_definitions() -> dict[str, str]:
    """{name: module path} of the package's public top-level defs."""
    defs = {}
    for path in _py_files(PACKAGE):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if not node.name.startswith("_"):
                    defs[node.name] = str(path.relative_to(ROOT))
    return defs


def _allowlist() -> dict[str, tuple[str, str]]:
    """{name: (mark, reason)} from COVERAGE.md table rows whose second cell
    is a mark; the names are the backticked identifiers of the first cell."""
    allowed = {}
    for line in (ROOT / "COVERAGE.md").read_text().splitlines():
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if line.startswith("|") and len(cells) == 3 and cells[1] in MARKS:
            for name in re.findall(r"`(?:[\w.]+\.)?(\w+)`", cells[0]):
                allowed[name] = (cells[1], cells[2])
    return allowed


def test_every_public_name_has_a_caller():
    refs, allowed = _referenced_names(), _allowlist()
    uncalled = sorted(
        f"{mod}::{name}" for name, mod in _public_definitions().items()
        if name not in refs and name not in allowed
    )
    assert not uncalled, (
        "no caller outside tests/ and no COVERAGE.md 'Uncalled by design' row: "
        + ", ".join(uncalled)
    )


def test_uncalled_by_design_rows_are_current():
    """Each allowlisted name is a public package definition that still has
    no caller, with a reason; a row outlives neither its function nor its
    first caller."""
    refs, defs = _referenced_names(), _public_definitions()
    allowed = _allowlist()
    assert allowed
    for name, (_, reason) in allowed.items():
        assert name in defs, f"{name}: not a public package definition"
        assert name not in refs, f"{name}: has a caller now; drop its row"
        assert reason, f"{name}: no reason given"
