"""Run lifecycle CLI — the library-shape twin of the reference's REST
polling surface (``api/routers/runs.py``: list_runs :98, get_run_status
:964, get_candidate_keys :1534, confirm_keys :1628). The engine keeps the
reference's observable run state (manifest.json with queued → processing
→ completed/failed stage transitions + progress fraction + accumulated
errors, append-only audit
JSONL) and exposes it as files + this CLI — a user who polled
``GET /runs/{id}/status`` polls ``runs_cli.py status <run_dir>``;
everything is read from the manifest the pipeline already maintains, so
the CLI adds NO new engine state. The HTTP transport itself lives in
``jobs/runs_server.py`` (stdlib http.server), which serves these same
response builders on the reference's routes.

Subcommands (all print one JSON document to stdout):

  list <workspace_root> [--limit N]     runs under a workspace, newest first
  status <run_dir>                      one run's manifest + audit tail
  candidate-keys <parquet> [--cols ...] scored key candidates (A19)
  confirm-keys <parquet> --keys a,b     duplicate groups on a confirmed key
                                        (A20; null-key rows skip-and-count)

The two key subcommands run Spark (one agg / one groupBy — see
``operators/keys.py``); ``list``/``status`` are pure file reads and never
start a session, so polling a long run costs nothing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _read_json(path: str) -> dict | None:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def _run_status_view(m: dict) -> dict:
    """The manifest re-expressed under the reference ``RunStatus`` field
    names (``api/models/run.py:84-100``) so a client of the REST surface
    can consume this CLI's JSON with no field mapping. Fields the
    distributed pipeline has no analog for (``source_filename`` — input is
    a DataFrame, not an upload; ``column_profiles`` — lives in
    profile.json) are present with null values: field-NAME parity is the
    contract (tests/test_runs_cli.py locks it against the reference
    models)."""
    stages = m.get("stages", [])
    started = [s.get("started_at") for s in stages if s.get("started_at")]
    finished = [s.get("finished_at") for s in stages if s.get("finished_at")]
    # the pipeline nests per-month counters under "metrics"; accept a flat
    # "rows" too so hand-rolled manifests stay listable
    rows = sum(
        ((b or {}).get("metrics") or {}).get("rows", (b or {}).get("rows", 0))
        for b in m.get("completed_batches", {}).values()
    )
    return {
        "run_id": m.get("run_id"),
        "state": m.get("state"),
        "progress_pct": round(100.0 * (m.get("progress") or 0.0), 1),
        "created_at": m.get("created_at") or (min(started) if started else None),
        "started_at": min(started) if started else None,
        "completed_at": (
            max(finished) if finished and m.get("state") == "completed" else None
        ),
        "warnings": m.get("warnings", []),
        "errors": m.get("errors", []),
        "column_profiles": m.get("column_profiles"),
        "source_filename": m.get("source_filename"),
        "row_count": rows,
        "column_count": m.get("column_count"),
    }


def _run_summary(run_dir: str) -> dict | None:
    m = _read_json(os.path.join(run_dir, "manifest.json"))
    if m is None:
        return None
    stages = m.get("stages", [])
    view = _run_status_view(m)
    return {
        # reference RunStatus field names first (list_runs returns
        # List[RunStatus]); CLI-native extras after
        **view,
        "path": run_dir,
        "progress": m.get("progress", 0.0),
        "months_committed": len(m.get("completed_batches", {})),
        "rows": view["row_count"],
        "last_stage": stages[-1]["stage"] if stages else None,
        "updated_at": max(
            (s.get("finished_at") or s.get("started_at") or "" for s in stages),
            default=None,
        ),
    }


def list_runs(root: str, limit: int = 20) -> list[dict]:
    """Workspace run listing, newest first — the ONE walk/filter/sort both
    surfaces use (CLI ``list`` and the HTTP shim's ``GET /runs``), so run
    ordering and listability can't drift between them."""
    runs = []
    for name in sorted(os.listdir(root)):
        d = os.path.join(root, name)
        if os.path.isdir(d):
            s = _run_summary(d)
            if s is not None:
                runs.append(s)
    runs.sort(key=lambda r: (r["updated_at"] or "", r["path"]), reverse=True)
    return runs[:limit]


def cmd_list(args) -> dict:
    return {
        "workspace": args.workspace_root,
        "runs": list_runs(args.workspace_root, args.limit),
    }


def cmd_status(args) -> dict:
    m = _read_json(os.path.join(args.run_dir, "manifest.json"))
    if m is None:
        raise SystemExit(f"no manifest.json under {args.run_dir}")
    audit_tail: list[dict] = []
    apath = os.path.join(args.run_dir, "audit.jsonl")
    if os.path.exists(apath):
        with open(apath) as f:
            audit_tail = [json.loads(line) for line in f.readlines()[-args.audit_tail :]]
    # reference RunStatus fields at the top level (get_run_status returns
    # RunStatus), full manifest + audit tail as CLI-native extras
    return {**_run_status_view(m), "manifest": m, "audit_tail": audit_tail}


def candidate_keys_response(
    spark,
    parquet: str,
    cols: list[str] | None = None,
    max_width: int = 2,
    min_score: float = 0.5,
    top: int = 5,
    run_id: str | None = None,
) -> dict:
    """CandidateKeysResponse-shaped dict (transport-free; shared by the CLI
    and the HTTP shim in jobs/runs_server.py)."""
    from data_profiler_spark.operators import keys

    df = spark.read.parquet(parquet)
    cands = keys.candidate_keys(
        df, cols=cols, max_width=max_width, min_score=min_score, top=top
    )
    cand_dicts = [
        {
            "columns": list(c.columns),
            "distinct_ratio": round(c.distinct_ratio, 6),
            "null_ratio_sum": round(c.null_ratio_sum, 6),
            "score": round(c.score, 6),
        }
        for c in cands
    ]
    # reference CandidateKeysResponse field names (run_id, candidate_keys,
    # total_rows — api/models/run.py:248-254) + CLI-native extras; each
    # candidate already carries the reference CandidateKey field names
    return {
        "run_id": run_id,
        "candidate_keys": cand_dicts,
        "total_rows": df.count(),
        "input": parquet,
        "candidates": cand_dicts,
    }


def cmd_candidate_keys(args) -> dict:
    from data_profiler_spark.session import get_spark

    cols = [c.strip() for c in args.cols.split(",")] if args.cols else None
    return candidate_keys_response(
        get_spark("runs-cli"),
        args.parquet,
        cols=cols,
        max_width=args.max_width,
        min_score=args.min_score,
        top=args.top,
        run_id=args.run_id,
    )


def confirm_keys_response(
    spark,
    parquet: str,
    key_cols: list[str],
    id_col: str | None = None,
    top: int = 10,
    run_id: str | None = None,
) -> dict:
    """DuplicateDetectionResponse-shaped dict (transport-free twin of
    POST /runs/{id}/confirm-keys)."""
    from data_profiler_spark.operators import keys

    df = spark.read.parquet(parquet)
    groups = keys.duplicate_groups(df, key_cols, top=top, id_col=id_col)
    skipped = keys.null_key_count(df, key_cols)
    stats = keys.duplicate_stats(df, key_cols)
    # each group carries BOTH the raw key columns/ids and the reference
    # DuplicateGroup field names (key_value '|'-joined per runs.py:1720,
    # count, row_numbers — api/models/run.py:269-274)
    group_dicts = []
    for r in groups.collect():
        d = r.asDict()
        d["key_value"] = "|".join(str(d[c]) for c in key_cols)
        d["count"] = d["dup_count"]
        d["row_numbers"] = list(d.get("example_ids") or [])
        group_dicts.append(d)
    # reference DuplicateDetectionResponse field names + CLI-native extras
    return {
        "run_id": run_id,
        "confirmed_keys": key_cols,
        "has_duplicates": stats["has_duplicates"],
        "duplicate_count": stats["duplicate_count"],
        "total_duplicate_rows": stats["total_duplicate_rows"],
        "duplicate_percentage": round(stats["duplicate_percentage"], 6),
        "input": parquet,
        "key_columns": key_cols,
        "null_key_rows_skipped": skipped,
        "duplicate_groups": group_dicts,
    }


def cmd_confirm_keys(args) -> dict:
    from data_profiler_spark.session import get_spark

    key_cols = [c.strip() for c in args.keys.split(",") if c.strip()]
    return confirm_keys_response(
        get_spark("runs-cli"),
        args.parquet,
        key_cols,
        id_col=args.id_col,
        top=args.top,
        run_id=args.run_id,
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="run lifecycle CLI")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("list")
    p.add_argument("workspace_root")
    p.add_argument("--limit", type=int, default=20)
    p.set_defaults(fn=cmd_list)

    p = sub.add_parser("status")
    p.add_argument("run_dir")
    p.add_argument("--audit-tail", type=int, default=10)
    p.set_defaults(fn=cmd_status)

    p = sub.add_parser("candidate-keys")
    p.add_argument("parquet")
    p.add_argument("--cols", default=None, help="comma list (default: all columns)")
    p.add_argument("--max-width", type=int, default=2)
    p.add_argument("--min-score", type=float, default=0.5)
    p.add_argument("--top", type=int, default=5)
    p.add_argument("--run-id", default=None, help="run id echoed in the response")
    p.set_defaults(fn=cmd_candidate_keys)

    p = sub.add_parser("confirm-keys")
    p.add_argument("parquet")
    p.add_argument("--keys", required=True, help="comma list of confirmed key columns")
    p.add_argument("--id-col", default=None)
    p.add_argument("--top", type=int, default=10)
    p.add_argument("--run-id", default=None, help="run id echoed in the response")
    p.set_defaults(fn=cmd_confirm_keys)

    args = ap.parse_args(argv)
    print(json.dumps(args.fn(args), indent=2, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
