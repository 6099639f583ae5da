"""spark-submit entry point for a profile run — the reference's core
"upload file → get profile artifacts" flow (``api/routers/runs.py``) as one
batch job writing ``profile.json`` + ``metrics.csv`` (io/artifacts.py S8)
and ``report.html`` (``api/services/report.py:11-902``) into --output.

A ``.csv``/``.csv.gz`` input (the suffix picks the codec, as in S1) runs the
reference's CSV chain (SURVEY.md §3.1): ``sniff_csv`` → ``read_csv_with_errors``
→ ``csv_row_errors`` and the line-ending warnings through
``error_rollup`` (``E_*`` to ``profile["errors"]``, ``W_*`` to
``profile["warnings"]``) → on a catastrophic error, artifacts without column
profiles and exit 1, where the reference stops (``ingest.py:884-896``) →
``infer_column_types`` → one wide agg by inferred type: ``numeric_stats_exprs``
over a double ``try_cast`` named ``{col}_double`` for numeric and money
columns, ``string_stats_exprs`` for the rest, ``validity_counts_exprs`` with
the type's predicate and, for dates, the format vote. Other input is parquet
(or a table with --table), profiled by Spark dtype (``NUMERIC_TYPES``).

PHI discipline: free-text columns (--free-text, default
``text,scrubbed_text,html``) are left out of the profile, so no document
content reaches any artifact.

In-sandbox smoke:
    python jobs/profile_job.py --input /root/testdata/sf0.001/documents.parquet \
        --output /tmp/prof_out --histogram n_chars
"""

from __future__ import annotations

import argparse
import json
import sys
from dataclasses import asdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

NUMERIC_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")


def _line_endings(spark, path: str) -> dict:
    """Exact CRLF/LF/CR counts: lines split on ``\\n`` only keep their
    ``\\r`` (Spark's default split drops it) and get the ``\\n`` back. An
    uncompressed file one byte short of its lines has no ``\\n`` after the
    last line, so that one is taken back."""
    from pyspark.sql import functions as F

    from data_profiler_spark.io import intake

    lines = spark.read.option("lineSep", "\n").text(path).select(
        F.concat("value", F.lit("\n")).alias("line"),
        F.monotonically_increasing_id().alias("pos"),
        "_metadata.file_path",
        "_metadata.file_size",
    )
    counts = dict.fromkeys(("crlf_count", "lf_count", "cr_count"), 0)
    for r in lines.groupBy("file_path", "file_size").agg(
        *intake.line_ending_counts_exprs("line"),
        F.sum(F.octet_length("line")).alias("bytes"),
        F.max_by(F.col("line").endswith("\r\n"), "pos").alias("last_crlf"),
    ).collect():
        # no "\n" after the last line: the appended one made a false CRLF or LF
        open_end = r["bytes"] == r["file_size"] + 1 and not r["file_path"].endswith(".gz")
        undo = {"crlf_count": -1, "cr_count": 1} if r["last_crlf"] else {"lf_count": -1}
        for k in counts:
            counts[k] += r[k] + (undo.get(k, 0) if open_end else 0)
    return counts


def _profile_csv(spark, path: str, free_text: set[str]):
    """The CSV chain: (profile, typed frame or None after a catastrophic
    error, {column: its numeric column in the frame}, the cached parse
    that the typed frame reads, for the caller to unpersist)."""
    from pyspark.sql import functions as F

    from data_profiler_spark.io import intake
    from data_profiler_spark.operators import errors, profiler, typeinfer
    from data_profiler_spark.operators import validators as V

    sniff = intake.sniff_csv(spark, path)
    delim, quoted = sniff["delimiter"], sniff["quoted"]
    parsed = intake.read_csv_with_errors(spark, path, delim, quoted)
    df = parsed.drop("_corrupt")
    cols = [c for c in df.columns if c not in free_text]
    rows, endings = df.count(), _line_endings(spark, path)
    events = intake.csv_row_errors(spark, path, delim, quoted).unionByName(
        intake.warnings_df(spark, intake.line_ending_warnings(endings))
    )
    rollup = errors.error_rollup(events, rows).cache()
    issues = [r.asDict() for r in rollup.collect()]
    prof = {
        "row_count": rows,
        "column_count": len(df.columns),
        "csv": {**sniff, "line_endings": endings},
        "errors": [i for i in issues if i["code"].startswith("E_")],
        "warnings": [i for i in issues if i["code"].startswith("W_")],
    }
    catastrophic = errors.any_catastrophic(rollup)
    rollup.unpersist()
    if catastrophic:
        return prof, None, {}, parsed

    types = typeinfer.infer_column_types(df, cols)
    kind = {c: types[c].inferred_type for c in cols}
    numeric = {c: f"{c}_double" for c in cols if kind[c] in ("numeric", "money")}
    valid = {"numeric": V.is_numeric, "money": V.is_money, "alpha": V.is_alpha,
             "date": lambda c: V.date_any_format(c).isNotNull()}
    exprs = []
    for c in cols:  # string stats and validity both sum is_null_like as {c}_null_count
        exprs += profiler.numeric_stats_exprs(numeric[c]) if c in numeric else profiler.string_stats_exprs(c)
        exprs += V.validity_counts_exprs(c, valid[kind[c]](F.col(c))) if kind[c] in valid else []
        exprs += V.date_format_counts_exprs(c) if kind[c] == "date" else []
    typed = df.select("*", *[F.col(c).try_cast("double").alias(n) for c, n in numeric.items()])
    wide = typed.agg(*exprs).first().asDict() if exprs else {}
    top: dict[str, list] = {}
    for r in profiler.top_n_values(df, [c for c in cols if c not in numeric], 10).collect():
        top.setdefault(r["column_name"], []).append((r["value"], r["cnt"]))
    fmts = {c: {"date_format": V.detect_date_format(wide, c)} for c in cols if kind[c] == "date"}
    prof["types"] = {c: asdict(types[c]) | fmts.get(c, {}) for c in cols}
    distincts = {r["column_name"]: r.asDict() for r in profiler.distinct_report(df, cols).collect()}
    return {"wide": wide, "distincts": distincts, "top_values": top, **prof}, typed, numeric, parsed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="table profile run")
    ap.add_argument("--input", required=True, help="csv or parquet path (or table name with --table)")
    ap.add_argument("--table", action="store_true")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="profile-0")
    ap.add_argument(
        "--free-text",
        default="text,scrubbed_text,html",
        help="comma list of columns left out of the profile",
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

    free_text = {c.strip() for c in args.free_text.split(",") if c.strip()}
    parsed = None  # the CSV path's cached parse, released after the histograms
    if not args.table and args.input.endswith((".csv", ".csv.gz")):
        prof, df, numeric, parsed = _profile_csv(spark, args.input, free_text)
    else:
        df = spark.read.table(args.input) if args.table else spark.read.parquet(args.input)
        numeric = {c: c for c, t in df.dtypes if t.startswith(NUMERIC_TYPES)}
        string_cols = [c for c, t in df.dtypes if t == "string" and c not in free_text]
        prof = profiler.profile_table(df, list(numeric), string_cols)
    for c in args.histogram:
        if c not in numeric:
            print(
                f"WARNING: --histogram {c!r} skipped (not a numeric column of the "
                f"input; numeric columns: {list(numeric)})",
                file=sys.stderr,
            )
    hists = {
        c: [(r["bin_lo"], r["bin_hi"], r["cnt"]) for r in profiler.histogram(df, numeric[c]).collect()]
        for c in args.histogram
        if c in numeric
    }
    if parsed is not None:
        parsed.unpersist()
    paths = artifacts.write_profile_artifacts(prof, args.output)
    paths["report.html"] = artifacts.write_html_report(
        prof, args.output, run_id=args.run_id, histograms=hists,
        errors=prof.get("errors"), warnings=prof.get("warnings"),
    )
    print(json.dumps({"run_id": args.run_id, "rows": prof["row_count"], "artifacts": paths}))
    return 1 if df is None else 0  # a catastrophic input error stopped the profile


if __name__ == "__main__":
    raise SystemExit(main())
