"""Plan-materialization helper shared by the skew-defense paths.

Several operators cut a DataFrame's lineage on purpose — either so two
consumers don't recompute an expensive upstream (``minhash_lsh_pairs``'s
shingle sets and band keys) or so AQE sees plain shuffle stages it can
skew-split (``line_dedup``'s over-threshold line counts).
``localCheckpoint`` is the cheap way to do that, but its blocks live in
executor storage and are NOT fault tolerant: on a multi-executor cluster,
losing an executor AFTER materialization fails the job instead of
recomputing (the lineage is gone). That is acceptable on a single-JVM run
and often acceptable for short-lived intermediates, but a 100 TB run
should prefer a RELIABLE checkpoint when one is available.

:func:`materialize` encodes the policy in one place: if the session has a
reliable checkpoint directory configured (``sc.setCheckpointDir`` — on a
cluster, an HDFS/S3 path), use ``checkpoint`` (replayable from durable
storage, survives executor loss); otherwise fall back to
``localCheckpoint``. Both are lazy (``eager=False``) — materialization
happens at the first action, exactly like the raw calls they replace.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut lineage: reliable ``checkpoint`` when the session has a
    checkpoint dir configured, else executor-local ``localCheckpoint``
    (fast, but not fault-tolerant — see module docstring). ``eager=True``
    materializes immediately — the fixed-point loops (components engines)
    use it so each round's plan is fully resolved before the next builds
    on it.

    Reliable-checkpoint details that matter at scale:

    * ``checkpoint`` runs the checkpoint WRITE as a separate job after the
      first action, recomputing the whole lineage unless the data is
      cached — so this persists (MEMORY_AND_DISK) before checkpointing and,
      on the eager path, unpersists once the durable copy exists. On the
      lazy path the cache is left in place (dropping it before the first
      action would reintroduce the double compute); it is evicted LRU.
    * checkpoint files are only auto-deleted when
      ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (default
      false) — cluster sessions that set a checkpoint dir should set it,
      or long fixed-point runs accumulate one durable copy per round.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        out = df.checkpoint(eager=eager)
        if eager:
            df.unpersist()
            return out
    else:
        out = df.localCheckpoint(eager=eager)
    if not eager:
        # A lazy checkpoint is filled by the first job on ``out``, whose
        # tasks report SQL metrics owned by ``df``'s plan. If ``df`` were
        # garbage-collected first, the DAGScheduler would log "non-existent
        # accumulator" errors, so ``out`` keeps it alive.
        out._checkpoint_source = df
    return out
