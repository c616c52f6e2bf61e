"""One materialization policy for frames with several consumers.

Every frame that feeds more than one join side, union branch or loop
round is materialized once, through :func:`materialize`. The policy is
a deployment setting, not a per-call argument:

* The SparkContext has a checkpoint dir (``spark.checkpoint.dir`` or
  ``setCheckpointDir``): persist → reliable ``checkpoint(eager=True)``
  → unpersist. The files survive executor loss. A reliable checkpoint
  does not cache blocks, so without the persist the checkpoint write
  would recompute the lineage (Spark's own guidance); the cache is
  dropped once the files exist, so no CacheManager entry leaks per call
  (one per round in an iterative loop). This path always runs a job at
  construction time: composing an operator into a plan that is later
  discarded still pays for its materializations.
* No checkpoint dir (local mode, the default): ``localCheckpoint``.
  Blocks live in executor storage and are lost with an executor.
  ``eager=False`` defers the job to the first action; ``eager=True``
  runs it now. Use eager when the consumers run as concurrent stages of
  one job (two union branches, two join sides): a lazy checkpoint lets
  both compute the frame at once, so nothing is reused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """Truncate ``df``'s lineage and keep its rows for reuse (see module)."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        cached = df.persist()
        out = cached.checkpoint(eager=True)
        cached.unpersist()
        return out
    return df.localCheckpoint(eager=eager)
