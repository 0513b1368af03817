"""SparkSession factory.

One shared session across queries/tests (BASELINE.md: session reuse is
part of the 2x bench envelope). Config is chosen for correctness of the
DuckDB-oracle comparison (UTC timestamps, ANSI off to match permissive
cast semantics) and for scale-readiness (AQE with skew-join handling,
Arrow for the few pandas_udf kernels).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "etl-building-inspector-spark") -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    Always a local session: ``local[N]`` with N from ``SPARK_GRAFT_CPUS``
    (default ``*``, all the JVM's cores). ``spark.sql.shuffle.partitions``
    is set to the session's ``sparkContext.defaultParallelism`` (N on
    ``local[N]``), the same figure ``operators._parallel`` fans out to.
    A cluster deployment builds its own session and sets its own value.

    The width matters most for stateful streams, which AQE never
    coalesces: every micro-batch runs one state-store task per shuffle
    partition. Spark fixes a stateful query's partition count when it
    first starts on a fresh checkpoint and records it there, so a
    stream restarted from an existing checkpoint keeps that count
    whatever this session says. Batch exchanges keep AQE coalescing,
    which stays enabled so plans behave the same way at 1000 executors.
    """
    return start(session_builder(app_name))


def session_builder(app_name: str) -> SparkSession.Builder:
    """The builder behind get_spark(). A tool that needs one more static
    conf (the UI, say) adds it to this builder and passes it to start()."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow: fast path for the pandas_udf kernels and for
        # createDataFrame/ toPandas in tests.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Oracle comparison: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Permissive (classic) semantics: element_at out-of-range -> NULL,
        # cast('12abc' as int) -> NULL -- matches the reference's JS
        # parseInt-style leniency (building-inspector.js:102) and keeps
        # the DuckDB oracles expressible with try_cast.
        .config("spark.sql.ansi.enabled", "false")
        # local[N] = single JVM; driver memory is the only knob.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # nested-schema pruning ON (default, but pinned: the GeoJSON
        # structs rely on it for column pruning at scale).
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
    )


def start(builder: SparkSession.Builder) -> SparkSession:
    """getOrCreate() plus the settings that need a running context."""
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # shuffle width = local cores; known only once the context is up
    spark.conf.set(
        "spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism
    )
    return spark
