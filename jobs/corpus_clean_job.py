"""spark-submit entry point for the corpus-level cleaning stage.

Runs AFTER the per-document quality filter (jobs/quality_filter_job.py):
the operators here need the whole corpus in view — cross-corpus line
dedup, benchmark decontamination, URL blocklist filtering — so they form
their own batch stage over the filtered output.

Cluster launch:

    scripts/make_pyfiles_zip.sh
    spark-submit \
        --py-files dist/data_profiler_spark.zip \
        jobs/corpus_clean_job.py \
        --input  /data/pages_filtered/data \
        --output /data/pages_clean \
        --blocklist /data/blocked_domains.txt \
        --eval-set /data/eval_docs_parquet

Stages (each optional, applied in this order):
1. URL blocklist filter (cheapest — a scan-level isin/broadcast filter,
   runs before any text is touched).
2. Benchmark decontamination: drop docs sharing any word ``--ngram``-gram
   with --eval-set (eval n-grams broadcast; corpus never shuffles them).
3. ``--normalize``: whitespace/control canonicalization
   (``textanalysis.normalize_text_expr`` — narrow map) so the dedup keys
   below ignore crawl-hygiene variation.
4. ``--span-dup-threshold``: drop docs whose winnowed repeated-span
   fraction (``corpus.duplicated_span_report``) meets the threshold —
   the cross-document verbatim-overlap kill.
5. Cross-corpus line dedup: corpus-duplicated lines survive only at
   their first occurrence; per-doc kept/dropped counts land in the
   output.

In-sandbox smoke (no cluster):
    python jobs/corpus_clean_job.py --synth 2000 --output /tmp/cc_out
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from data_profiler_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="corpus-level cleaning run")
    ap.add_argument("--input", help="documents parquet path (doc_id, text[, url] columns)")
    ap.add_argument("--synth", type=int, default=0, help="generate N synthetic pages instead of --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--blocklist", help="text file of blocked registered domains, one per line")
    ap.add_argument("--eval-set", help="parquet of eval docs (text column) for decontamination")
    ap.add_argument("--ngram", type=int, default=13, help="decontamination n-gram order")
    ap.add_argument("--max-line-occurrences", type=int, default=1)
    ap.add_argument("--line-min-chars", type=int, default=5)
    ap.add_argument(
        "--normalize",
        action="store_true",
        help="canonicalize whitespace/control chars before dedup keys",
    )
    ap.add_argument(
        "--span-dup-threshold",
        type=float,
        default=None,
        help="drop docs whose winnowed repeated-span fraction >= this",
    )
    ap.add_argument("--span-window", type=int, default=15)
    ap.add_argument("--span-stride", type=int, default=5)
    ap.add_argument(
        "--stage-counts",
        action="store_true",
        help="count docs after each stage (one EXTRA full scan per stage — "
        "diagnostics only; the default single-scan run reports output "
        "stats from the written parquet read-back)",
    )
    args = ap.parse_args(argv)

    spark = get_spark("corpus_clean")
    from data_profiler_spark.operators import corpus

    if args.synth:
        from data_profiler_spark.synth import pages_df

        docs = pages_df(spark, args.synth).select("doc_id", "url", "text")
    elif args.input:
        docs = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --synth is required")

    stats: dict[str, int] = {}
    if args.stage_counts:
        stats["input_docs"] = docs.count()

    if args.blocklist and "url" in docs.columns:
        blocked = [
            line.strip()
            for line in Path(args.blocklist).read_text().splitlines()
            if line.strip()
        ]
        docs = corpus.url_filter(docs, blocked).filter(~F.col("url_blocked")).drop(
            "url_blocked", "registered_domain"
        )
        if args.stage_counts:
            stats["after_url_filter"] = docs.count()

    if args.eval_set:
        evl = spark.read.parquet(args.eval_set)
        rep = corpus.contamination_report(docs, evl, n=args.ngram)
        docs = docs.join(
            rep.filter("contaminated").select("doc_id"), "doc_id", "left_anti"
        )
        if args.stage_counts:
            stats["after_decontamination"] = docs.count()

    if args.normalize:
        from data_profiler_spark.functions.textanalysis import normalize_text_expr

        docs = docs.withColumn("text", normalize_text_expr(F.col("text")))

    if args.span_dup_threshold is not None:
        # persist: the span report evaluates its upstream (blocklist /
        # decontamination / normalize) internally, and the anti-join back
        # against docs would re-run it all a third time otherwise
        docs = docs.persist()
        rep = corpus.duplicated_span_report(
            docs, window=args.span_window, stride=args.span_stride
        )
        docs = docs.join(
            rep.filter(F.col("dup_frac") >= args.span_dup_threshold).select("doc_id"),
            "doc_id",
            "left_anti",
        )
        if args.stage_counts:
            stats["after_span_dedup"] = docs.count()

    cleaned = corpus.line_dedup(
        docs,
        max_occurrences=args.max_line_occurrences,
        min_chars=args.line_min_chars,
    )
    out = docs.drop("text").join(cleaned, "doc_id")
    out.write.mode("overwrite").parquet(f"{args.output}/data")

    written = spark.read.parquet(f"{args.output}/data")
    agg = written.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("lines_kept").alias("lines_kept"),
        F.sum("lines_dropped").alias("lines_dropped"),
    ).first()
    stats.update(
        {"output_docs": agg["docs"], "lines_kept": agg["lines_kept"] or 0,
         "lines_dropped": agg["lines_dropped"] or 0}
    )
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
