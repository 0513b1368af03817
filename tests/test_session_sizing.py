"""Shuffle width of the package's session.

get_spark() sizes spark.sql.shuffle.partitions from the running
context's defaultParallelism. Batch exchanges are re-coalesced by AQE,
but a stateful stream is not: it runs one state-store task per shuffle
partition on every micro-batch, with the count fixed in its checkpoint
at first start.
"""

from __future__ import annotations

import os


def test_shuffle_partitions_follow_default_parallelism(spark):
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == (
        spark.sparkContext.defaultParallelism
    )


def test_streaming_dedup_state_partitions_match_session(spark, tmp_path):
    from etl_building_inspector_spark.streaming.events import (
        EVENTS_SCHEMA,
        streaming_dedup,
    )

    src = str(tmp_path / "events")
    # 20 events over 5 keys: every key arrives four times
    spark.sql(
        "SELECT id % 5 AS event_id, TIMESTAMP'2024-01-01 00:00:00' AS ts, "
        "1L AS user_id, 'view' AS event_type, 1.0D AS value, '{}' AS props "
        "FROM range(20)"
    ).write.parquet(src)
    ckpt = str(tmp_path / "ckpt")
    q = (
        streaming_dedup(spark.readStream.schema(EVENTS_SCHEMA).parquet(src))
        .writeStream.format("memory")
        .queryName("state_width_probe")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.table("state_width_probe").count() == 5
    parts = [d for d in os.listdir(os.path.join(ckpt, "state", "0")) if d.isdigit()]
    assert len(parts) == spark.sparkContext.defaultParallelism
