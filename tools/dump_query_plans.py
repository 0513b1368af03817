"""Dump full `explain("formatted")` output for named queries into
plans/<tag>/<query>_<suffix>.txt -- an optimization's before/after plan
evidence.

Usage: SPARK_GRAFT_SF_DIR=<fixture dir> \
       python tools/dump_query_plans.py <tag> <before|after> name [name...]

A name is a registered query, or `stream_dedup`: the physical plan of
the last micro-batch of streaming_dedup over the events fixture
replayed twice (the stream_replay benchmark's stateful stream). To dump
the "before" side of a change, run this file from a checkout of the
parent commit: it imports the package of the checkout it sits in.

The bench's headline queries, from the checkout root:

  python tools/dump_query_plans.py headline <suffix> \
      $(python -c 'from bench import HEADLINE; print(*HEADLINE)')

Plans to look for: dimension joins are BroadcastHashJoin; parquet scans
carry PushedFilters and a pruned ReadSchema; aggregations run a
map-side partial_ aggregation before their single Exchange.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from etl_building_inspector_spark.operators._cache import release_persisted  # noqa: E402
from etl_building_inspector_spark.plans.registry import QUERIES  # noqa: E402
from etl_building_inspector_spark.session import get_spark  # noqa: E402


def stream_dedup_plan(spark, sf_dir: str) -> str:
    from etl_building_inspector_spark.plans.queries_streaming import (
        _stream_events_dir,
    )
    from etl_building_inspector_spark.streaming.events import (
        read_event_stream,
        streaming_dedup,
    )

    events_dir = _stream_events_dir(spark, sf_dir)
    doubled = read_event_stream(spark, events_dir).unionByName(
        read_event_stream(spark, events_dir)
    )
    q = (
        streaming_dedup(doubled, ["event_id"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dump_stream_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
        return q._jsq.explainInternal(False)
    finally:
        q.stop()


def main() -> None:
    tag, suffix, *names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        sys.exit("set SPARK_GRAFT_SF_DIR to the fixture table directory")
    spark = get_spark(f"plans-{tag}")
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names:
        if name == "stream_dedup":
            plan = stream_dedup_plan(spark, sf_dir)
        else:
            plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().explainString(mode)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
        release_persisted()


if __name__ == "__main__":
    main()
