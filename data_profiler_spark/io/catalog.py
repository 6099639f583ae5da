"""Table catalog abstraction — Iceberg when available, parquet fallback.

The engine's write path (pipeline.QualityFilterPipeline) targets
partitioned Iceberg tables on a real cluster (north rule: transactional
commits, snapshot resume). This sandbox ships no Iceberg runtime jars, so
the same call sites go through this thin seam:

* ``write_partitioned(df, target, partition_cols, mode)`` — ``writeTo``
  (Iceberg, transactional snapshot per call) when the target is a catalog
  table, ``DataFrameWriter.parquet`` (zstd) with dynamic partition
  overwrite otherwise (idempotent per-partition replace — the closest
  filesystem-level analog of an Iceberg overwrite snapshot).

Cluster deployment: pass ``--conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog``
(+ warehouse conf) to spark-submit and address tables as
``lake.db.pages_filtered``; everything in pipeline.py then commits real
Iceberg snapshots with no code change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Codec of the parquet fallback: Iceberg's default Parquet codec, so the
# sandbox writes what the table target writes. Set on this writer only; a
# session-wide spark.sql.parquet.compression.codec would also change every
# other parquet the engine writes.
PARQUET_CODEC = "zstd"


def is_table_target(target: str) -> bool:
    """Catalog-table name (db.table) vs filesystem path heuristic: paths
    contain a separator or scheme."""
    return "/" not in target and ":" not in target


def write_partitioned(
    df: DataFrame,
    target: str,
    partition_cols: list[str],
    mode: str = "overwrite-partitions",
) -> None:
    """Partitioned write with per-partition replace semantics.

    ``overwrite-partitions`` replaces exactly the partitions present in
    ``df`` (Iceberg ``overwritePartitions``; parquet dynamic partition
    overwrite) — re-running a batch is idempotent, never duplicating.
    """
    if is_table_target(target):
        writer = df.writeTo(target)
        if mode == "overwrite-partitions":
            writer.overwritePartitions()
        elif mode == "append":
            writer.append()
        else:
            writer.createOrReplace()
        return
    # per-write, like the codec: a session-wide overwrite mode would leak
    # into every later write on a session shared across runs
    (
        df.write.mode("overwrite" if mode != "append" else "append")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", PARQUET_CODEC)
        .partitionBy(*partition_cols)
        .parquet(target)
    )
