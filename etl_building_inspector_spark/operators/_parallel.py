"""Scan fan-out for expensive narrow passes.

A parquet split below row-group granularity reads zero rows, so a
single-row-group file is ONE input split whatever
spark.sql.files.maxPartitionBytes says. Every fixture table is such a
file, and an operator doing expensive per-row work before its first
shuffle (regex normalization, shingle explode, one sha256 per shingle,
interpreted higher-order-function folds) therefore ran on 1-2 cores
(measured: dedup_cluster_assign's pair build 7.1 s of task time on 2
tasks). fan_out_scan round-robins such an input to the session's
defaultParallelism before the heavy pass (optimization guide 2.5:
"repartition immediately after the read"). The splits are counted
from metadata, never from the plan's text (SCALING.md, "Scan
fan-out"):

  * the frame reads files: at least defaultParallelism files is
    already wide; fewer parquet files count their footers' row groups,
    read on the driver;
  * the frame reads a persist()ed frame: its partition count, whose
    probe fills the cache the operator reads next;
  * anything else (foreachBatch micro-batches, local data, checkpoints,
    non-parquet files) is left alone.

It is a no-op once the input has defaultParallelism splits, so at
scale it never reduces parallelism. Round-robin repartition is
deterministic under retry (SPARK-23207) and every consumer is
order-insensitive, so results are unchanged.
"""

from __future__ import annotations

import pyarrow.parquet as pq
from pyarrow import fs
from pyspark.sql import DataFrame


def _row_groups(uri: str) -> int:
    filesystem, path = fs.FileSystem.from_uri(uri)
    return pq.read_metadata(path, filesystem=filesystem).num_row_groups


def _reads_cache(df: DataFrame) -> bool:
    """Cache substitution leaves an InMemoryRelation wherever the plan
    reads a persist()ed frame."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return any(
        leaves.apply(i).nodeName() == "InMemoryRelation" for i in range(leaves.size())
    )


def fan_out_scan(df: DataFrame) -> DataFrame:
    """`df` repartitioned round-robin to defaultParallelism iff it has
    fewer splits (see module docstring). Call it on a slim projection
    (id + the columns the heavy pass needs), right before the
    expensive narrow work. Deciding runs no Spark job except for a
    frame that reads a persist()ed frame."""
    target = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if len(files) >= target:
        return df
    if files and all(f.endswith(".parquet") for f in files):
        splits = sum(_row_groups(f) for f in files)
    elif not files and _reads_cache(df):
        splits = df.rdd.getNumPartitions()
    else:
        return df
    return df if splits >= target else df.repartition(target)
