"""Lineage-cut staging shared by the multi-pass operators.

The dedup blocking joins and the iterative loops (connected
components, k-means) re-consume intermediates that are expensive to
recompute (Arrow signature kernels) or grow lineage per round
(label propagation).  ``stage()`` cuts the lineage two ways:

- ``staging_dir=None`` (default, the local/bench path):
  ``localCheckpoint(eager=True)`` — materialize per-executor once, when
  ``stage()`` is called (so concurrent consumers never compute the
  subtree twice), no temp-dir management.  Caveat at cluster scale:
  checkpointed partitions PIN to the executors that computed them (no
  durable copy), so executor loss forces recompute and dynamic
  allocation can't release those hosts.
- ``staging_dir=<path>``: write the intermediate to parquet and
  re-read it — a durable staging table any executor can scan, the
  per-stage-materialization pattern every large pipeline uses.  Costs
  one write+read of the (narrow) staged projection; survives executor
  loss and lets AQE re-plan downstream joins from REAL staged
  statistics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def stage(df: DataFrame, staging_dir: str | None, name: str) -> DataFrame:
    # eager=True (r14): a LAZY checkpoint is materialized by its first
    # consumer — but AQE submits a join's two map stages CONCURRENTLY,
    # and both then compute the whole staged subtree in parallel (one
    # wins the block-store race: "Block rdd_N already exists" warnings),
    # so every Arrow kernel above a lazily-staged table ran twice.
    # Eager materialization runs the subtree exactly once; measured
    # dup_cluster_sizes cold 5.1 -> 3.9 s at sf0.1.
    if staging_dir is None:
        return df.localCheckpoint(eager=True)
    path = os.path.join(staging_dir, name)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)
