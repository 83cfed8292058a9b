"""Staging policy for iterative operators.

Iterative operators (pagerank, connected_components, semantic_dedup,
…) must materialize loop invariants and cut per-iteration lineage, or
the logical plan grows with the iteration count and multiply-
referenced stages recompute. HOW they materialize is a durability /
speed trade the caller should own:

- ``"local"`` (default): ``DataFrame.localCheckpoint`` — blocks live
  in executor storage (memory, spilling to local disk). Fastest, no
  configuration, and the blocks are freed by the ContextCleaner when
  the frame is GC'd. BUT lineage is discarded, so losing an executor
  loses the blocks unrecoverably and fails the job. Right for
  single-node runs, short jobs, and anything cheap to rerun.

- ``"checkpoint"``: ``DataFrame.checkpoint`` — blocks are written to
  the reliable checkpoint directory (HDFS / object store on a
  cluster; ``spark.sparkContext.setCheckpointDir`` must have been
  called). One extra write+read round-trip per staging point, but a
  lost executor re-reads instead of failing — the right posture for
  100 TB multi-hour jobs where preemption is routine and restarting
  a 20-round components loop costs more than the checkpoint writes.
  Checkpoint files persist until the checkpoint dir is cleaned
  (``spark.cleaner.referenceTracking.cleanCheckpoints=true`` opts
  into GC-driven cleanup).

See docs/SCALE.md ("Durable staging for iterative operators") for
the measured trade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

STAGING_MODES = ("local", "checkpoint")


def stage(df: DataFrame, *, eager: bool = True, staging: str = "local") -> DataFrame:
    """Materialize ``df`` (or lazily mark it for materialization at
    its first action when ``eager=False``) and cut its lineage, under
    the chosen durability mode."""
    if staging == "local":
        return df.localCheckpoint(eager=eager)
    if staging == "checkpoint":
        return df.checkpoint(eager=eager)
    raise ValueError(f"staging must be one of {STAGING_MODES}, got {staging!r}")
