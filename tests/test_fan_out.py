"""operators._parallel.fan_out_scan: one case per rule of the split
count (files, persisted frame, anything else), plus the promise that
deciding for a file-backed frame runs no Spark job."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etl_building_inspector_spark.operators._parallel import fan_out_scan
from etl_building_inspector_spark.operators.dedup import minhash_lsh_buckets


def _write_docs(path, n_files, rows=8):
    """`n_files` single-row-group parquet files of (doc_id, text)."""
    path.mkdir()
    for i in range(n_files):
        ids = range(i * rows, (i + 1) * rows)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "text": [f"document number {j} of the corpus" for j in ids],
                }
            ),
            str(path / f"part-{i:05d}.parquet"),
        )
    return str(path)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_single_row_group_scan_is_fanned_out(spark, tmp_path):
    target = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(_write_docs(tmp_path / "docs", 1))
    assert f"RoundRobinPartitioning({target})" in _plan(fan_out_scan(df))


def test_wide_file_input_is_unchanged(spark, tmp_path):
    target = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(_write_docs(tmp_path / "docs", target))
    assert fan_out_scan(df) is df


def test_persisted_single_partition_frame_is_fanned_out(spark):
    target = spark.sparkContext.defaultParallelism
    cached = spark.range(64).coalesce(1).persist()
    try:
        out = fan_out_scan(cached.select((F.col("id") * 2).alias("x")))
        assert f"RoundRobinPartitioning({target})" in _plan(out)
    finally:
        cached.unpersist()


def test_micro_batch_adds_no_exchange(spark, tmp_path):
    """A foreachBatch micro-batch is an RDD-backed frame with no input
    files: the MinHash build over it must not repartition it."""
    src = _write_docs(tmp_path / "docs", 2)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    plans = []

    def absorb(batch_df, epoch_id):
        plans.append(_plan(minhash_lsh_buckets(batch_df, "text", "doc_id")))

    q = stream.writeStream.foreachBatch(absorb).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(plans) == 2
    for plan in plans:
        assert "Exchange" not in plan, plan


def test_deciding_for_a_join_of_scans_runs_no_job(spark, tmp_path):
    a = spark.read.parquet(_write_docs(tmp_path / "a", 1))
    b = spark.read.parquet(_write_docs(tmp_path / "b", 1)).withColumnRenamed(
        "text", "text_b"
    )
    joined = a.join(b, "doc_id")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    fan_out_scan(joined)
    assert set(tracker.getJobIdsForGroup()) == before
