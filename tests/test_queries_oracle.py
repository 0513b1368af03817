"""Oracle conformance at sf0.001 for every registered query -- the
same comparison the driver does at sf0.01 (row count, column names,
order-insensitive value multiset), run fast enough for CI. Every query
must also return persistent RDDs and active streams to baseline."""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import pytest

from etl_building_inspector_spark.operators import _cache
from etl_building_inspector_spark.plans.registry import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    return v


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _baseline(spark):
    """Persistent RDDs (cached and checkpointed blocks) and active
    streams, after releasing the tracked intermediates."""
    _cache.release_persisted()
    return (
        spark.sparkContext._jsc.sc().getPersistentRDDs().size(),
        len(spark.streams.active),
    )


def _assert_matches_oracle(name, spark, duck):
    base = _baseline(spark)
    sdf = QUERIES[name](spark, SF_DIR)
    spark_cols = sdf.columns
    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    assert sorted(spark_cols) == sorted(duck_cols)

    s_idx = [spark_cols.index(c) for c in sorted(spark_cols)]
    d_idx = [duck_cols.index(c) for c in sorted(duck_cols)]
    spark_rows = Counter(
        tuple(_canon(r[i]) for i in s_idx) for r in sdf.collect()
    )
    duck_rows = Counter(
        tuple(_canon(r[i]) for i in d_idx) for r in res.fetchall()
    )
    assert spark_rows == duck_rows
    assert _baseline(spark) == base


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck):
    _assert_matches_oracle(name, spark, duck)


# Every fixture graph is small enough to finish on the driver, so the
# oracle sweep above never reaches the distributed rounds of the
# iterative operators -- the path that runs at scale. These queries
# run them again with the local finish turned off.
ITERATIVE = [
    "dedup_cluster_assign",
    "dedup_cluster_assign_lss",
    "dedup_cluster_incremental",
    "dedup_keep_representatives",
    "er_resolution_clusters",
    "graph_bfs_hops",
    "graph_sssp_bounded",
]


@pytest.mark.parametrize("name", ITERATIVE)
def test_iterative_distributed_matches_oracle(name, spark, duck, monkeypatch):
    monkeypatch.setattr(_cache, "LOCAL_FINISH_ROWS", -1)
    _assert_matches_oracle(name, spark, duck)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark):
    base = _baseline(spark)
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert _baseline(spark) == base


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
