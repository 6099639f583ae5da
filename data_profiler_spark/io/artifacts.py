"""Profile artifact sinks — reference S8 (``api/services/pipeline.py:502-584``,
CSV export ``api/routers/runs.py:1039-1197``).

The reference emits ``profile.json`` (nested per-column profile tree),
``metrics.csv`` (flat per-column rows with CSV-injection sanitizing,
``runs.py:1012-1036``) and ``report.html``
(``api/services/report.py:11-902``). All three here are driver-side
renderings of the small collected profile dict from
``operators.profiler.profile_table`` — the distributed work already
happened; artifacts never touch executors, and the HTML renderer adds NO
new computation (it formats the dict the JSON artifact already carries,
plus optional pre-collected histogram rows).

Counts-not-values discipline: the artifacts carry aggregates and bounded
top-N values only — exactly what ``profile_table`` returns. Callers must
not profile free-text document columns into ``top_values`` if the report
is to stay PHI-free; everything rendered is HTML-escaped regardless.
"""

from __future__ import annotations

import csv
import html as _html
import json
import math
import os
from typing import Any


def _json_safe(v: Any) -> Any:
    """inf/NaN → null, recursively — reference P12 JSON sanitizer
    (``runs.py:184-208``)."""
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    if isinstance(v, dict):
        return {k: _json_safe(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    return v


def csv_injection_sanitize(value: str) -> str:
    """Prefix ``'`` when a cell starts with ``= + - @`` — reference P11
    (``runs.py:1012-1036``)."""
    return "'" + value if value[:1] in ("=", "+", "-", "@") else value


def write_profile_artifacts(profile: dict, out_dir: str) -> dict[str, str]:
    """Write ``profile.json`` + ``metrics.csv`` for a profile_table dict.
    Returns {artifact_name: path}."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}

    jpath = os.path.join(out_dir, "profile.json")
    with open(jpath, "w") as f:
        json.dump(_json_safe(profile), f, indent=2, default=str)
    paths["profile.json"] = jpath

    cpath = os.path.join(out_dir, "metrics.csv")
    distincts = profile.get("distincts", {})
    with open(cpath, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(
            [
                "column_name",
                "total_count",
                "non_null_count",
                "null_count",
                "empty_count",
                "distinct_count",
                "cardinality_ratio",
                "top_values",
            ]
        )
        for col, row in sorted(distincts.items()):
            top = profile.get("top_values", {}).get(col, [])
            top_str = ";".join(f"{v}:{c}" for v, c in top)
            w.writerow(
                [
                    csv_injection_sanitize(str(col)),
                    row.get("total_count"),
                    row.get("non_null_count"),
                    row.get("null_count"),
                    row.get("empty_count"),
                    row.get("distinct_count"),
                    row.get("cardinality_ratio"),
                    csv_injection_sanitize(top_str),
                ]
            )
    paths["metrics.csv"] = cpath
    return paths


# ---------------------------------------------------------------------------
# report.html — reference parity for the last user-visible artifact
# (``api/services/report.py:11-902``): header summary, per-column cards
# with a stats table + top-10 values, optional histogram bars. Written
# from scratch as a ~100-line formatter over the profile dict; the
# reference's 900 lines are mostly embedded CSS and collapsible-JS
# chrome, which is presentation we don't replicate.
# ---------------------------------------------------------------------------

_REPORT_CSS = """
body{font-family:system-ui,sans-serif;margin:2rem;color:#222;background:#f6f7f9}
.container{max-width:1200px;margin:0 auto;background:#fff;padding:2rem;border-radius:8px}
h1{font-size:1.6rem;border-bottom:3px solid #2563eb;padding-bottom:.5rem}
h2{font-size:1.2rem;color:#2563eb;margin-top:1.5rem}
.summary{display:flex;gap:2rem;margin:1rem 0}
.stat{background:#eef2ff;padding:.6rem 1.2rem;border-radius:6px;text-align:center}
.stat .v{font-size:1.4rem;font-weight:700}
.card{border:1px solid #ddd;border-radius:6px;padding:1rem;margin:1rem 0}
table{border-collapse:collapse;margin:.5rem 0}
td,th{border:1px solid #e5e7eb;padding:.25rem .6rem;font-size:.85rem;text-align:left}
th{background:#f3f4f6}
svg{display:block;margin:.5rem 0}
"""


def _esc(v: Any) -> str:
    return _html.escape("" if v is None else str(v))


def _stats_rows(stats: dict[str, Any]) -> str:
    return "".join(
        f"<tr><th>{_esc(k)}</th><td>{_esc(v)}</td></tr>" for k, v in stats.items()
    )


def _hist_svg(bins: list[tuple[Any, Any, int]], width: int = 420, height: int = 90) -> str:
    """Inline-SVG histogram bars from pre-collected (lo, hi, count) rows —
    pure formatting, no computation beyond a max() for scaling."""
    if not bins:
        return ""
    peak = max(c for _, _, c in bins) or 1
    # clamp: >width/2 bins would give zero/negative rect widths (invalid
    # SVG — browsers drop the rects and the chart renders blank)
    bw = max(3, width // max(len(bins), 1))
    bars = []
    for i, (lo, hi, cnt) in enumerate(bins):
        h = max(1, round((height - 14) * cnt / peak))
        bars.append(
            f'<rect x="{i * bw + 1}" y="{height - h}" width="{bw - 2}" height="{h}" '
            f'fill="#2563eb"><title>[{_esc(lo)}, {_esc(hi)}): {cnt}</title></rect>'
        )
    return (
        f'<svg width="{width}" height="{height}" role="img" '
        f'aria-label="histogram">{"".join(bars)}</svg>'
    )


def write_html_report(
    profile: dict,
    out_dir: str,
    run_id: str = "run",
    histograms: dict[str, list[tuple[Any, Any, int]]] | None = None,
    errors: list[dict] | None = None,
    warnings: list[dict] | None = None,
) -> str:
    """Render ``report.html`` from a ``profile_table`` dict (+ optional
    pre-collected ``operators.profiler.histogram`` rows per column as
    (bin_lo, bin_hi, cnt) tuples). Returns the file path.

    PHI discipline: every value is HTML-escaped; only the dict's bounded
    aggregates and top-N values appear — no raw document text, provided
    the caller kept free-text columns out of ``top_values`` (the engine's
    own profiling calls do)."""
    os.makedirs(out_dir, exist_ok=True)
    distincts: dict[str, dict] = profile.get("distincts", {})
    top_values: dict[str, list] = profile.get("top_values", {})
    wide: dict[str, Any] = profile.get("wide", {})
    histograms = histograms or {}
    parts = [
        "<!DOCTYPE html><html lang='en'><head><meta charset='utf-8'>",
        f"<title>Data Profile Report - {_esc(run_id)}</title>",
        f"<style>{_REPORT_CSS}</style></head><body><div class='container'>",
        f"<h1>Data Profile Report <small>{_esc(run_id)}</small></h1>",
        "<div class='summary'>",
        f"<div class='stat'><div class='v'>{_esc(profile.get('row_count'))}</div>rows</div>",
        f"<div class='stat'><div class='v'>{_esc(profile.get('column_count'))}</div>columns</div>",
        f"<div class='stat'><div class='v'>{len(distincts)}</div>profiled</div>",
        "</div>",
    ]
    cols = sorted(set(distincts) | set(histograms))
    for col in cols:
        parts.append(f"<div class='card' id='col-{_esc(col)}'><h2>{_esc(col)}</h2>")
        stats = dict(distincts.get(col, {}))
        stats.pop("column_name", None)
        prefix = f"{col}_"
        stats.update(
            {k[len(prefix):]: v for k, v in wide.items() if k.startswith(prefix)}
        )
        if stats:
            parts.append(f"<table>{_stats_rows(_json_safe(stats))}</table>")
        if col in histograms:
            parts.append(_hist_svg(histograms[col]))
        top = top_values.get(col, [])
        if top:
            rows = "".join(
                f"<tr><td>{_esc(v)}</td><td>{_esc(c)}</td></tr>" for v, c in top
            )
            parts.append(
                "<h3>top values</h3><table><tr><th>value</th><th>count</th></tr>"
                f"{rows}</table>"
            )
        parts.append("</div>")
    for title, items in (("Errors", errors or []), ("Warnings", warnings or [])):
        if items:
            parts.append(f"<h2>{title}</h2><table><tr><th>code</th><th>count</th></tr>")
            for it in items:
                parts.append(
                    f"<tr><td>{_esc(it.get('code'))}</td><td>{_esc(it.get('count'))}</td></tr>"
                )
            parts.append("</table>")
    parts.append("</div></body></html>")
    path = os.path.join(out_dir, "report.html")
    # explicit utf-8: html.escape leaves non-ASCII text alone, and a
    # C/POSIX-locale container (spark-submit default) would otherwise
    # UnicodeEncodeError on the first non-ASCII top value — after the
    # whole profiling job already ran
    with open(path, "w", encoding="utf-8") as f:
        f.write("".join(parts))
    return path
