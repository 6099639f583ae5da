"""operators.checkpoints.materialize — the lineage-cut policy shared by
the skew-defense paths: reliable checkpoint when the session has a
checkpoint dir (executor-loss-safe on clusters), localCheckpoint
otherwise. Unit-tested against a stub so the shared session's checkpoint
configuration is never mutated."""

from __future__ import annotations

import gc
import weakref
from unittest.mock import MagicMock

from data_profiler_spark.operators.checkpoints import materialize


def _stub_df(checkpoint_dir):
    df = MagicMock()
    df.sparkSession.sparkContext.getCheckpointDir.return_value = checkpoint_dir
    return df


def test_materialize_prefers_reliable_checkpoint_when_configured():
    """Reliable path persists BEFORE checkpointing (the checkpoint write
    job otherwise recomputes the full lineage a second time) and, eagerly,
    unpersists once the durable copy exists."""
    df = _stub_df("hdfs:///ckpt")
    materialize(df, eager=True)
    df.persist.assert_called_once()
    cached = df.persist.return_value
    cached.checkpoint.assert_called_once_with(eager=True)
    cached.unpersist.assert_called_once()
    df.localCheckpoint.assert_not_called()
    cached.localCheckpoint.assert_not_called()


def test_materialize_reliable_lazy_keeps_cache():
    """Lazy reliable checkpoint must NOT unpersist — materialization
    happens at the first action, and dropping the cache before it would
    reintroduce the double compute."""
    df = _stub_df("hdfs:///ckpt")
    out = materialize(df, eager=False)
    cached = df.persist.return_value
    cached.checkpoint.assert_called_once_with(eager=False)
    cached.unpersist.assert_not_called()
    assert out is cached.checkpoint.return_value


def test_materialize_falls_back_to_local_checkpoint():
    df = _stub_df(None)
    materialize(df)
    df.localCheckpoint.assert_called_once_with(eager=False)
    df.checkpoint.assert_not_called()


def test_lazy_checkpoint_keeps_its_source_alive(spark):
    """A lazy checkpoint is filled by the first job on the returned frame,
    whose tasks report SQL metrics owned by the source's plan; the source
    must outlive that job, so the returned frame holds it."""
    src = spark.range(100).selectExpr("id", "id * 2 AS twice")
    ref = weakref.ref(src)
    out = materialize(src)
    del src
    gc.collect()
    assert ref() is not None
    assert out.count() == 100
