"""Structured Streaming lift of the quality-filter pipeline.

The reference has no true streaming (SURVEY.md §2.9 — its "streaming" is
chunked batch iteration), but the scoring stage is stateless per document,
so it lifts to ``readStream → score_pages → writeStream`` UNCHANGED — the
same ``score_pages`` transform object serves batch and stream (noted in
SURVEY.md §2.9 as the continuous-ingestion path).

What streaming adds on top:

* **Watermarked windowed metrics** — per (window, lang_pred) keep/drop
  counts with late-data tolerance on ``warc_ts`` (event time). Tumbling
  windows + watermark bound the state store; at 10^12 docs/day the state is
  windows × langs, not documents.
* **foreachBatch sink** — each micro-batch gets the output contract and
  a salted repartition, then goes through the batch writer
  (``catalog.write_partitioned`` in append mode, zstd parquet or Iceberg
  append), so file output is exactly-once per batch. The layout is not
  the batch pipeline's: the stream writes no ``month`` partitions, and
  it salts on ``salt_buckets`` (64 by default) where the pipeline uses
  ``pipeline.SALT_BUCKETS`` (256).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import catalog
from ..pipeline import output_contract, score_pages, url_salt


def score_stream(stream_df: DataFrame) -> DataFrame:
    """Streaming DataFrame in → scored streaming DataFrame out. Stateless:
    identical plan to the batch path (score_pages is engine-agnostic)."""
    return score_pages(stream_df)


def windowed_keep_metrics(
    scored: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed keep/drop metrics with a watermark: late rows
    beyond ``watermark`` are dropped and their window state evicted —
    bounded state regardless of stream length."""
    return (
        scored.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("lang_pred"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang_pred",
            "rows",
            "kept",
        )
    )


def start_scoring_stream(
    stream_df: DataFrame,
    output_path: str,
    checkpoint_path: str,
    salt_buckets: int = 64,
    trigger_available_now: bool = True,
):
    """Score a stream and write parquet via foreachBatch (reusing the batch
    writer's salted layout). ``availableNow`` drains the current backlog and
    stops — the bounded-test / backfill trigger; pass False for continuous
    micro-batches."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        catalog.write_partitioned(
            output_contract(score_pages(batch_df))
            .withColumn("salt", url_salt(salt_buckets))
            .repartition(F.col("salt"))
            .drop("salt"),
            output_path,
            [],
            mode="append",
        )

    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
