"""Every public package function and class has a caller outside ``tests/``.

A public top-level ``def`` or ``class`` under ``data_profiler_spark/`` must
be referenced by name from a ``.py`` file outside ``tests/`` (the package
itself, ``__spark_entry__.py``, ``jobs/``, ``scripts/``, ``bench.py`` or
``perfbench/``), or be listed in COVERAGE.md's "Uncalled by design" table
as ``library API`` or ``test reference``, with the reason. So a copy that
nothing runs fails here instead of waiting for a review to find it.

Matching is by name: a second definition under a name that runs elsewhere
passes. No Spark session is needed.

The same rule holds for options: every defaulted parameter of a public
function, or of a public class's ``__init__`` or public method, is set by
some call outside ``tests/``, or is exempt by ``EXEMPT_OPTIONS``. An
option nothing but a test sets is a constant; make it one (a test that
needs another value ``monkeypatch``-es the module constant).
"""

from __future__ import annotations

import ast
import re
from fnmatch import fnmatchcase
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "data_profiler_spark"
CALLERS = [PACKAGE, ROOT / "jobs", ROOT / "scripts", ROOT / "perfbench",
           ROOT / "__spark_entry__.py", ROOT / "bench.py"]
MARKS = ("library API", "test reference")

# Defaulted parameters that may stay unset, as fnmatch patterns over
# "module:Owner.param" (Owner is the function, the class for __init__, or
# Class.method).
EXEMPT_OPTIONS = (
    # column names are input addresses, not knobs
    "*:*.col", "*:*.cols", "*:*.*_col", "*:*.*_cols",
    # the output table of a catalog deployment
    "pipeline:QualityFilterPipeline.table",
    # the knobs of COVERAGE.md "Uncalled by design" library-API functions
    "operators.multimodal:extract_media_meta.*",
    "operators.multimodal:extract_media_features.*",
    "operators.multimodal:sample_frames.*",
    "streaming.scoring:start_scoring_stream.*",
    "streaming.stateful:dedup_stream.*",
    "operators.drift:drift_summary.*",
    "streaming.scoring:windowed_keep_metrics.*",
    # a COVERAGE.md test-reference fixture builder, whose callers are tests
    "operators.multimodal:synth_media_df.*",
    # a fixture's seed picks test data
    "synth:skewed_pages_df.seed",
    # a deployment's input-trust policy: the S2 UTF-8 gate costs a full
    # python-UDF pass over html, so only a caller that distrusts its input
    # turns it on
    "pipeline:QualityFilterPipeline.run.validate_first",
    "pipeline:QualityFilterPipeline.run.max_invalid_utf8",
)


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


def _defaulted_options(tree: ast.Module, module: str) -> list[tuple[str, str, str, int | None]]:
    """(key, callee, param, position) of every defaulted parameter of the
    module's public top-level functions and public classes' ``__init__``
    and public methods. ``callee`` is the name a call uses (the class for
    ``__init__``); ``position`` is the positional index a call fills
    (``self`` is bound), ``None`` for keyword-only parameters."""
    owners = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            owners.append((node.name, node.name, node, 0))
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            for m in node.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    if m.name == "__init__":
                        owners.append((node.name, node.name, m, 1))
                    else:
                        owners.append((f"{node.name}.{m.name}", m.name, m, 1))
    out = []
    for owner, callee, fn, bound in owners:
        if callee.startswith("_"):
            continue
        a = fn.args
        pos = a.posonlyargs + a.args
        for i in range(len(pos) - len(a.defaults), len(pos)):
            out.append((f"{module}:{owner}.{pos[i].arg}", callee, pos[i].arg, i - bound))
        for p, d in zip(a.kwonlyargs, a.kw_defaults):
            if d is not None:
                out.append((f"{module}:{owner}.{p.arg}", callee, p.arg, None))
    return out


def _set_options(tree: ast.Module, keywords: dict, positions: dict) -> None:
    """Record, per callee name, the keywords and the most positional
    arguments that any call in the module passes. ``**NAME`` counts the
    keys of a ``dict(...)``/``{...}`` literal assigned to NAME in the
    same module; a ``*args`` call fills every position."""
    literals: dict[str, set] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and [type(t) for t in node.targets] == [ast.Name]:
            v, keys = node.value, literals.setdefault(node.targets[0].id, set())
            if isinstance(v, ast.Dict):
                keys.update(k.value for k in v.keys if isinstance(k, ast.Constant))
            elif isinstance(v, ast.Call) and isinstance(v.func, ast.Name) and v.func.id == "dict":
                keys.update(k.arg for k in v.keywords if k.arg)
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
        if name is None:
            continue
        kws = keywords.setdefault(name, set())
        for k in node.keywords:
            if k.arg:
                kws.add(k.arg)
            elif isinstance(k.value, ast.Name):
                kws |= literals.get(k.value.id, set())
        n = len(node.args)
        if any(isinstance(a, ast.Starred) for a in node.args):
            n = float("inf")
        positions[name] = max(positions.get(name, 0), n)


def unset_options(
    package: dict[str, str], callers: list[str], exempt: tuple[str, ...] = EXEMPT_OPTIONS
) -> list[str]:
    """Keys of the defaulted parameters in ``package`` ({module: source})
    that no call in ``callers`` (sources) sets and no ``exempt`` pattern
    matches."""
    keywords: dict[str, set] = {}
    positions: dict[str, float] = {}
    for src in callers:
        _set_options(ast.parse(src), keywords, positions)
    unset = []
    for module, src in package.items():
        for key, callee, param, pos in _defaulted_options(ast.parse(src), module):
            if param in keywords.get(callee, ()):
                continue
            if pos is not None and pos < positions.get(callee, 0):
                continue
            if not any(fnmatchcase(key, pat) for pat in exempt):
                unset.append(key)
    return unset


def _package_sources() -> dict[str, str]:
    return {
        ".".join(path.relative_to(PACKAGE).with_suffix("").parts): path.read_text()
        for path in _py_files(PACKAGE)
    }


def test_every_public_option_is_set_somewhere():
    callers = [f.read_text() for p in CALLERS for f in _py_files(p)]
    unset = unset_options(_package_sources(), callers)
    assert not unset, (
        "defaulted parameters that no call sets; make each a constant: " + ", ".join(unset)
    )


def test_option_exemptions_are_current():
    """Each exemption of a named module still matches a defaulted public
    parameter (the column-name rule holds for any module)."""
    keys = [
        key
        for module, src in _package_sources().items()
        for key, *_ in _defaulted_options(ast.parse(src), module)
    ]
    for pat in (p for p in EXEMPT_OPTIONS if not p.startswith("*:")):
        assert any(fnmatchcase(k, pat) for k in keys), f"{pat}: matches no parameter; drop it"


def test_option_checker_on_a_synthetic_module():
    """An unset knob is reported, a ``**dict`` literal sets its keys, and
    an exempt name is skipped."""
    package = {
        "m": (
            "def knob(df, depth=3, width=2, id_col='id'):\n    pass\n"
            "def _private(k=1):\n    pass\n"
            "class Box:\n"
            "    def __init__(self, size=1):\n        pass\n"
            "    def fill(self, level=0):\n        pass\n"
        )
    }
    caller = "ARGS = dict(width=4)\nknob(df, **ARGS)\nBox(2).fill()\n"
    assert unset_options(package, [caller]) == ["m:knob.depth", "m:Box.fill.level"]
    assert unset_options(package, [caller], exempt=("*:*.*_col", "m:knob.*", "m:Box.*")) == []
    assert unset_options(package, [caller + "knob(df, 1)\n"], exempt=("*:*.*_col",)) == [
        "m:Box.fill.level"
    ]
