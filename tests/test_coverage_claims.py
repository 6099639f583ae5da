"""COVERAGE.md's oracle claims: a table row that credits oracle query ``q``
with checking an operator must name, in its implementation cell, a function
that ``q`` actually calls. Pure source inspection — no Spark session."""

from __future__ import annotations

import ast
import inspect
import re
from pathlib import Path

import __spark_entry__ as entry

ROOT = Path(__file__).resolve().parents[1]
_TICK = re.compile(r"`([^`]+)`")
# `dps/operators/dedup.py::exact_dedup`, `dedup.exact_dedup`, `exact_dedup`
_NAME = re.compile(r"(?:[\w/.]*(?:::|\.))?(\w+)")


def _package_functions() -> set[str]:
    names = set()
    for path in (ROOT / "data_profiler_spark").rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names.add(node.name)
    return names


def _oracle_rows(queries):
    """(row label, operator names, oracle query names) for each COVERAGE.md
    table row whose last cell credits a ``queries()`` entry as an oracle and
    whose implementation cell names a package function."""
    defined = _package_functions()
    for line in (ROOT / "COVERAGE.md").read_text().splitlines():
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if not line.startswith("|") or len(cells) < 3:
            continue
        claim = cells[-1]
        at = claim.find("oracle")
        if at < 0:
            continue
        oracles = [t for t in _TICK.findall(claim[at:]) if t in queries]
        ops = set()
        for tok in _TICK.findall(" ".join(cells[1:-1])):
            m = _NAME.fullmatch(tok)
            if m and m.group(1) in defined:
                ops.add(m.group(1))
        if oracles and ops:
            yield cells[0], ops, oracles


def test_coverage_oracles_call_the_operator_they_check():
    queries = entry.queries()
    rows = list(_oracle_rows(queries))
    assert len(rows) >= 30, "COVERAGE.md table parsing found too few oracle rows"
    bad = [
        f"{label}: oracle {q} calls none of {sorted(ops)}"
        for label, ops, oracles in rows
        for q in oracles
        if not any(re.search(rf"\b{op}\b", inspect.getsource(queries[q])) for op in ops)
    ]
    assert not bad, "\n".join(bad)
