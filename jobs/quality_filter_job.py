"""spark-submit entry point for the quality-filter pipeline.

Cluster launch (north rule: multi-executor via --py-files):

    scripts/make_pyfiles_zip.sh          # builds dist/data_profiler_spark.zip
    spark-submit \
        --py-files dist/data_profiler_spark.zip \
        jobs/quality_filter_job.py \
        --input  /data/pages_parquet_or_table \
        --output /data/pages_filtered \
        --run-id run-2026-08-16

Under spark-submit, ``session.get_spark`` sets NO master and no
local-only config, only the engine's shared ``session.ENGINE_CONF``:
spark-submit / the cluster manager owns executor topology, so the same
file runs at N and 4N executors unchanged — the scaling-efficiency
evidence in BASELINE.md is this job at two parallelism levels. Resume:
the run manifest lives in --output; re-submitting with the same --run-id
skips completed batches (QualityFilterPipeline.run).

In-sandbox smoke (no cluster; ``local[$SPARK_GRAFT_CPUS]``, from any
working directory):
    python jobs/quality_filter_job.py --synth 2000 --output /tmp/qf_out
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="web-text quality-filter run")
    ap.add_argument("--input", help="pages parquet path (or Iceberg table with --table)")
    ap.add_argument("--table", action="store_true", help="treat --input as a catalog table name")
    ap.add_argument("--synth", type=int, default=0, help="generate N synthetic pages instead of --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--keep-langs", default="en")
    ap.add_argument("--salt-buckets", type=int, default=256)
    ap.add_argument(
        "--dedup-against",
        help="parquet of the maintained corpus content_hash table: drop "
        "pages whose text the corpus already holds BEFORE scoring "
        "(operators/dedup.py::incremental_dedup — a recurring crawl is "
        "1-5%% new content, so this gates the expensive model stage); "
        "new hashes land at <output>/new_content_hashes for the caller "
        "to append to the maintained table after accepting the run",
    )
    args = ap.parse_args(argv)

    from data_profiler_spark.pipeline import QualityFilterPipeline
    from data_profiler_spark.session import get_spark
    from data_profiler_spark.synth import pages_df

    spark = get_spark("quality_filter")
    if args.synth:
        pages = pages_df(spark, args.synth)
    elif args.table:
        pages = spark.read.table(args.input)
    elif args.input:
        pages = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --synth is required")

    deduped = None
    if args.dedup_against:
        from data_profiler_spark.operators.dedup import incremental_dedup

        hashes = spark.read.parquet(args.dedup_against)
        # persist BEFORE the two consumers: the new_content_hashes write
        # and the scoring write below would otherwise each re-execute the
        # full dedup plan (sha256 + window + anti-join over the batch) —
        # doubling the cost of the stage whose purpose is to gate the
        # expensive model stage. The hashes write materializes the cache.
        deduped = incremental_dedup(pages, hashes, corpus_is_hashes=True).persist()
        deduped.select("content_hash").write.mode("overwrite").parquet(
            f"{args.output}/new_content_hashes"
        )
        pages = deduped.drop("content_hash")

    pipe = QualityFilterPipeline(
        spark,
        args.output,
        keep_langs=tuple(args.keep_langs.split(",")),
        salt_buckets=args.salt_buckets,
    )
    res = pipe.run(pages, run_id=args.run_id)
    if deduped is not None:
        deduped.unpersist()
    print(
        json.dumps(
            {
                "run_id": res.run_id,
                "batches": len(res.batches),
                "resumed": len(res.resumed_batches),
                "rows": res.total_rows,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
