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

Stages (``operators.corpus.clean_corpus``), each optional, in this
order: ``--blocklist`` URL filter (the input needs a ``url`` column) →
``--eval-set`` decontamination on word ``--ngram``-grams →
``--normalize`` → ``--span-dup-threshold`` repeated-span drop →
cross-corpus line dedup (always). Prints one JSON line of output stats
read back from the written parquet.

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

    blocked = None
    if args.blocklist:
        blocked = [
            line.strip()
            for line in Path(args.blocklist).read_text().splitlines()
            if line.strip()
        ]
    out, cached = corpus.clean_corpus(
        docs,
        blocked_domains=blocked,
        eval_docs=spark.read.parquet(args.eval_set) if args.eval_set else None,
        ngram=args.ngram,
        normalize=args.normalize,
        span_dup_threshold=args.span_dup_threshold,
    )
    out.write.mode("overwrite").parquet(f"{args.output}/data")
    for df in cached:
        df.unpersist()

    written = spark.read.parquet(f"{args.output}/data")
    agg = written.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("lines_kept").alias("lines_kept"),
        F.sum("lines_dropped").alias("lines_dropped"),
    ).first()
    print(json.dumps({
        "output_docs": agg["docs"],
        "lines_kept": agg["lines_kept"] or 0,
        "lines_dropped": agg["lines_dropped"] or 0,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
