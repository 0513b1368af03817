"""Source/sink breadth: CSV/JSON/ORC round-trip conformance, training
shard layout, and observe-based telemetry."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etl_building_inspector_spark.operators.observe import observe_quality
from etl_building_inspector_spark.sources.shards import (
    read_training_shards,
    shard_of,
    write_training_shards,
)
from etl_building_inspector_spark.sources.tables import (
    load_table,
    read_table,
    write_table,
)


def _same(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_format_round_trips(spark, sf_dir, tmp_path):
    """documents through csv/json/orc: value-identical to the parquet
    original (explicit schema for text formats — no inference scan)."""
    docs = load_table(spark, sf_dir, "documents")
    for fmt in ("csv", "json", "orc"):
        p = str(tmp_path / f"docs_{fmt}")
        write_table(docs, p, fmt)
        back = read_table(spark, p, fmt, schema=docs.schema)
        assert _same(docs, back), fmt


def test_format_round_trip_timestamps(spark, sf_dir, tmp_path):
    """events (timestamps) through csv: micro-precision survives the
    text round trip via the pinned timestampFormat."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    p = str(tmp_path / "events_csv")
    write_table(ev, p, "csv")
    back = read_table(spark, p, "csv", schema=ev.schema)
    assert _same(ev, back)


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def test_micros_events_leave_nanos_conf_unset(spark, sf_dir):
    """The fixtures store ts as TIMESTAMP(MICROS): loading events must
    not touch the session-global nanosAsLong conf."""
    load_table(spark, sf_dir, "events").count()
    assert spark.conf.get(_NANOS_AS_LONG, None) is None


def test_nanos_events_read_as_truncated_micros(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file still loads, with ts truncated to
    microseconds, and the conf is unset again once it is read."""
    nanos = [1700000000123456789, 1700000001999999999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(nanos, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    ev = load_table(spark, str(tmp_path), "events")
    assert spark.conf.get(_NANOS_AS_LONG, None) is None
    got = ev.select("event_id", F.unix_micros("ts").alias("us")).collect()
    assert sorted(tuple(r) for r in got) == [(1, nanos[0] // 1000), (2, nanos[1] // 1000)]


def test_int96_events_are_not_read_as_nanos(spark, tmp_path):
    """INT96, Spark's default for TIMESTAMP columns, maps to arrow
    nanoseconds too, but it is not TIMESTAMP(NANOS): it loads as a
    timestamp without the nanosAsLong conversion."""
    pq.write_table(
        pa.table({"ts": pa.array([1700000000123456000], pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    ev = load_table(spark, str(tmp_path), "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.select(F.unix_micros("ts")).first()[0] == 1700000000123456


def test_orc_predicate_pushdown(spark, sf_dir, tmp_path):
    """ORC behaves like parquet for pushdown: the scan node carries the
    filter (searchArgument/pushed) rather than filtering post-scan."""
    docs = load_table(spark, sf_dir, "documents")
    p = str(tmp_path / "docs_orc")
    write_table(docs, p, "orc")
    q = read_table(spark, p, "orc").filter(F.col("doc_id") < 10).select("doc_id")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "orc" in plan.lower()
    assert "lt(doc_id,10)" in plan.replace(" ", "") or "doc_id" in plan


def test_training_shards_layout(spark, sf_dir, tmp_path):
    """Hive-partitioned lang/shard layout; ONE file per directory
    (repartition on the partition keys); deterministic membership;
    lossless round trip; partition-pruned reads."""
    import glob

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, "doc_id", "lang", n_shards=4)

    part_dirs = glob.glob(f"{out}/lang=*/shard=*")
    assert len(part_dirs) > 0
    for d in part_dirs:
        files = [f for f in glob.glob(f"{d}/*.parquet")]
        assert len(files) == 1, d  # one task per (lang, shard)

    back = spark.read.parquet(out).drop("shard")
    # partition columns come back as read types; compare on values
    assert back.count() == docs.count()
    assert _same(
        docs.select("doc_id", "text"), back.select("doc_id", "text")
    )

    # deterministic membership: recomputing the shard expression on the
    # read-back data reproduces the directory assignment
    recheck = spark.read.parquet(out).withColumn(
        "expect", shard_of("doc_id", 4)
    )
    assert recheck.filter(F.col("shard") != F.col("expect")).count() == 0

    # pruned read returns exactly that stratum
    some_lang = docs.select("lang").first()[0]
    pruned = read_training_shards(spark, out, lang=some_lang)
    assert (
        pruned.count()
        == docs.filter(F.col("lang") == some_lang).count()
    )


def test_observe_quality_metrics(spark, sf_dir):
    """observe() metrics equal a direct aggregate, computed with zero
    extra scans (they ride the materializing job)."""
    docs = load_table(spark, sf_dir, "documents")
    observed, obs = observe_quality(
        docs,
        "docs_quality",
        null_cols=("lang",),
        bounds={"n_chars": (1, 10_000)},
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    want_rows = docs.count()
    want_nulls = docs.filter(F.col("lang").isNull()).count()
    want_oob = docs.filter(~F.col("n_chars").between(1, 10_000)).count()
    assert m["n_rows"] == want_rows
    assert m["null_lang"] == want_nulls
    assert m["oob_n_chars"] == want_oob


def test_parquet_schema_evolution_mergeschema(spark, tmp_path_factory):
    """Schema evolution on a landing dir: batch 2 adds a column; a
    mergeSchema read presents the union schema with nulls for the old
    files -- the upgrade path when a source adds fields mid-stream."""
    d = str(tmp_path_factory.mktemp("evolve"))
    spark.createDataFrame(
        [(1, "a")], "id long, name string"
    ).write.mode("append").parquet(d)
    spark.createDataFrame(
        [(2, "b", 99)], "id long, name string, score long"
    ).write.mode("append").parquet(d)
    df = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in df.collect()}
    assert rows == {1: None, 2: 99}


def test_python_udtf_chunk_rows(spark):
    """Spark 4 Python UDTF surface: a table function exploding one
    document row into fixed-width chunk rows (the UDTF twin of
    text_chunk_windows' builtin-only fan-out). Lateral-joined via SQL;
    Arrow-batched by default config where available."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    @udtf(
        returnType=StructType(
            [
                StructField("chunk_no", IntegerType()),
                StructField("chunk", StringType()),
            ]
        )
    )
    class ChunkText:
        def eval(self, text: str, width: int):
            for i in range(0, len(text), width):
                yield i // width, text[i : i + width]

    spark.udtf.register("chunk_text", ChunkText)
    spark.createDataFrame(
        [(1, "abcdefghij"), (2, "xyz")], "doc_id long, text string"
    ).createOrReplaceTempView("udtf_docs")
    out = spark.sql(
        "SELECT d.doc_id, c.chunk_no, c.chunk "
        "FROM udtf_docs d, LATERAL chunk_text(d.text, 4) c"
    ).collect()
    got = {(r.doc_id, r.chunk_no): r.chunk for r in out}
    assert got == {
        (1, 0): "abcd",
        (1, 1): "efgh",
        (1, 2): "ij",
        (2, 0): "xyz",
    }


def test_xml_native_roundtrip(spark, tmp_path_factory):
    """Spark 4 ships a native XML source: write the nation dim as XML,
    read it back with rowTag + explicit schema, values survive -- the
    interchange path for XML-bearing upstreams (no external package)."""
    d = str(tmp_path_factory.mktemp("xml")) + "/nation_xml"
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    nation.write.format("xml").option("rowTag", "nation").mode(
        "overwrite"
    ).save(d)
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema(nation.schema)
        .load(d)
    )
    assert sorted(r["n_nationkey"] for r in back.collect()) == sorted(
        r["n_nationkey"] for r in nation.collect()
    )
    assert back.count() == nation.count()
