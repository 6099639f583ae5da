"""spark-submit entry point for a table profile run — the reference's
core "upload file → get profile artifacts" flow (``api/routers/runs.py``
upload→process→artifacts) as one batch job over a parquet path or table.

Emits the reference's full artifact set into --output:
``profile.json`` + ``metrics.csv`` (io/artifacts.py S8) and
``report.html`` (reference ``api/services/report.py:11-902`` — per-column
cards, top-10 tables, inline-SVG histograms).

PHI discipline: free-text columns (--free-text, default
``text,scrubbed_text,html``) are profiled for stats but excluded from
top-10 value collection, so no document content reaches any artifact.

In-sandbox smoke:
    python jobs/profile_job.py --input /root/testdata/sf0.001/documents.parquet \
        --output /tmp/prof_out --histogram n_chars
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

NUMERIC_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="table profile run")
    ap.add_argument("--input", required=True, help="parquet path (or table name with --table)")
    ap.add_argument("--table", action="store_true")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="profile-0")
    ap.add_argument(
        "--free-text",
        default="text,scrubbed_text,html",
        help="comma list of columns excluded from top-10 value collection",
    )
    ap.add_argument(
        "--histogram",
        action="append",
        default=[],
        help="numeric column to render a 10-bin histogram for (repeatable)",
    )
    args = ap.parse_args(argv)

    from data_profiler_spark.io import artifacts
    from data_profiler_spark.operators import profiler
    from data_profiler_spark.session import get_spark

    spark = get_spark("profile")

    df = spark.read.table(args.input) if args.table else spark.read.parquet(args.input)
    free_text = {c.strip() for c in args.free_text.split(",") if c.strip()}
    numeric_cols = [c for c, t in df.dtypes if t.startswith(NUMERIC_TYPES)]
    string_cols = [c for c, t in df.dtypes if t == "string" and c not in free_text]

    prof = profiler.profile_table(df, numeric_cols, string_cols)
    for c in args.histogram:
        if c not in numeric_cols:
            print(
                f"WARNING: --histogram {c!r} skipped (not a numeric column of the "
                f"input; numeric columns: {numeric_cols})",
                file=sys.stderr,
            )
    hists = {
        c: [(r["bin_lo"], r["bin_hi"], r["cnt"]) for r in profiler.histogram(df, c).collect()]
        for c in args.histogram
        if c in numeric_cols
    }
    paths = artifacts.write_profile_artifacts(prof, args.output)
    paths["report.html"] = artifacts.write_html_report(
        prof, args.output, run_id=args.run_id, histograms=hists
    )
    print(json.dumps({"run_id": args.run_id, "rows": prof["row_count"], "artifacts": paths}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
