"""The three benchmark workloads.

Each workload generates its inputs from the seed (``prepare``), runs one
round of public calls at a time (``run_round``), checks the outputs of
its last round outside the timed region (``check``) and, in a traced
run, adds its own per-layer numbers (``layer_metrics``). Every public
call runs inside a ``Tracer`` span; spans marked ``op`` are the
operations the end-to-end latency metrics count.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import statistics
from collections import Counter

from pyspark.sql import functions as F

import gen
from tracing import input_rows, python_udf_metrics, span_batches, span_jobs, spans_metrics

OP_TIMEOUT_S = 60.0


def _canon(val):
    """Cell canonicalisation of the repository's oracle comparison:
    floats compare by full-precision repr, NaN as a string."""
    if isinstance(val, float):
        return "NaN" if math.isnan(val) else repr(val)
    return val


def rows_digest(columns: list[str], rows) -> tuple[int, Counter]:
    """Row count and order-insensitive value multiset, columns by name."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    return len(rows), Counter(tuple(_canon(r[i]) for i in idx) for r in rows)


def compare_to_twin(con, sql: str, columns: list[str], rows) -> str | None:
    """Compare Spark rows with the DuckDB twin's; None when equal."""
    cur = con.execute(sql)
    twin_cols = [d[0] for d in cur.description]
    n_s, got = rows_digest(columns, rows)
    n_d, want = rows_digest(twin_cols, cur.fetchall())
    if sorted(columns) != sorted(twin_cols):
        return f"columns {sorted(columns)} != twin {sorted(twin_cols)}"
    if n_s != n_d:
        return f"rowcount {n_s} != twin {n_d}"
    if got != want:
        return "values differ from twin"
    return None


def duckdb_views(table_dir: str, names: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in names:
        path = os.path.join(table_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


class Workload:
    name = ""

    def prepare(self, ctx) -> dict:
        raise NotImplementedError

    def run_round(self, ctx, r: int) -> None:
        raise NotImplementedError

    def check(self, ctx) -> dict[str, str]:
        raise NotImplementedError

    def op_latencies_s(self, ctx, rounds: set[int]) -> dict[str, list[float]]:
        """Per-op latencies of the given rounds, grouped by op name."""
        ops: dict[str, list[float]] = {}
        for s in ctx.tracer.spans:
            if s.get("op") and s["round"] in rounds:
                ops.setdefault(s["name"], []).append(s["seconds"])
        return ops

    def stage(self, ctx) -> None:
        """Traced runs only: extra work on the live session after the
        timed rounds."""

    def layer_metrics(self, ctx, log) -> dict:
        """Traced runs only: per-layer numbers from the spans and the
        parsed event log (read after the session stopped)."""
        return {}


# --- etl_transform ---------------------------------------------------------------


class EtlTransform(Workload):
    """download -> transform -> write_ndjson over a generated landing."""

    name = "etl_transform"
    N_FEATURES = 2500
    N_TOPONYMS = 1200
    BASE_URL = "http://landing.invalid/api"

    def prepare(self, ctx) -> dict:
        self.landing = gen.make_landing(ctx.seed, self.N_FEATURES, self.N_TOPONYMS)
        self.fetch = gen.landing_server(self.landing, self.BASE_URL)
        self.boroughs = os.path.join(ctx.work, "layer-boroughs.json")
        with open(self.boroughs, "w") as f:
            json.dump(self.landing["layer_boroughs"], f)
        self.out = None
        t = self.landing["truth"]
        return {
            "features": len(self.landing["consolidated"]),
            "toponyms": len(self.landing["toponyms"]),
            "sheets": len(self.landing["sheets"]),
            "layers": 12,
            "candidate_pairs": t["candidate_pairs"],
        }

    def _download(self, ctx, landing_dir: str) -> dict:
        from etl_building_inspector_spark.sources.landing import download

        with ctx.tracer.span("landing.download", "sources.landing", top=True):
            paths = download(landing_dir, self.BASE_URL, self.fetch, sleep_s=0)
        paths["layer_boroughs"] = self.boroughs
        return paths

    def run_round(self, ctx, r: int) -> None:
        from etl_building_inspector_spark.plans.pipeline import transform, write_ndjson

        # a fresh landing dir per round: download() skips datasets that
        # already carry a .done marker
        paths = self._download(ctx, os.path.join(ctx.work, f"landing-{r}"))
        out = os.path.join(ctx.work, f"out-{r}")
        with ctx.tracer.span("pipeline.transform_write", "plans.pipeline", top=True, op=True):
            with ctx.tracer.span("pipeline.transform_call", "plans.pipeline"):
                df = transform(
                    ctx.spark,
                    paths["consolidated"],
                    paths["toponyms"],
                    paths["sheets"],
                    paths["layer_boroughs"],
                )
            with ctx.tracer.span("pipeline.write_ndjson", "plans.pipeline"):
                write_ndjson(df, out)
        shutil.rmtree(os.path.join(ctx.work, f"landing-{r}"))
        if self.out:
            shutil.rmtree(self.out)
        self.out = out

    def check(self, ctx) -> dict[str, str]:
        problem = check_etl_output(self.out, self.landing["truth"])
        return {"pipeline.transform_write": problem} if problem else {}

    def stage(self, ctx) -> None:
        """One staged pass, each stage checkpointed before the next public
        call is timed, so every layer's time is its own."""
        from etl_building_inspector_spark.operators._cache import free_local_checkpoint
        from etl_building_inspector_spark.plans.pipeline import (
            convert_consolidated,
            convert_toponyms,
            spatial_sameas,
            write_ndjson,
        )
        from etl_building_inspector_spark.sources import geojson

        spark, tr = ctx.spark, ctx.tracer
        paths = self._download(ctx, os.path.join(ctx.work, "landing-staged"))
        spans = self.staged = {}
        with tr.span("geojson.scan", "sources.geojson") as spans["scan"]:
            for read, key in (
                (geojson.read_consolidated, "consolidated"),
                (geojson.read_toponyms, "toponyms"),
                (geojson.read_sheets, "sheets"),
            ):
                read(spark, paths[key]).write.format("noop").mode("overwrite").save()
        with tr.span("geojson.read_layer_boroughs", "sources.geojson") as spans["lb"]:
            layers = geojson.read_layer_boroughs(spark, paths["layer_boroughs"]).localCheckpoint()
        sheets = geojson.read_sheets(spark, paths["sheets"]).localCheckpoint()
        with tr.span("pipeline.convert_consolidated", "plans.pipeline") as spans["cons"]:
            cons = convert_consolidated(
                geojson.read_consolidated(spark, paths["consolidated"]), sheets, layers
            ).localCheckpoint()
        with tr.span("pipeline.convert_toponyms", "plans.pipeline") as spans["tops"]:
            tops = convert_toponyms(
                geojson.read_toponyms(spark, paths["toponyms"]), sheets, layers
            ).localCheckpoint()
        with tr.span("spatial.sameas", "operators.spatial") as spans["pip"]:
            same = spatial_sameas(tops, cons).localCheckpoint()
        matches = same.filter(F.col("rel_type") == "st:sameAs").count()
        out = os.path.join(ctx.work, "out-staged")
        with tr.span("pipeline.write_staged", "plans.pipeline") as spans["write"]:
            write_ndjson(
                cons.unionByName(tops, allowMissingColumns=True).unionByName(
                    same, allowMissingColumns=True
                ),
                out,
            )
        for df in (layers, sheets, cons, tops, same):
            free_local_checkpoint(df)
        n_lines, n_bytes = 0, 0
        for root, _, files in os.walk(out):
            for name in files:
                if name.startswith("part-"):
                    with open(os.path.join(root, name), "rb") as f:
                        data = f.read()
                    n_lines += data.count(b"\n")
                    n_bytes += len(data)
        landing_mb = sum(
            os.path.getsize(p) for k, p in paths.items() if k != "layer_boroughs"
        ) / 2**20
        shutil.rmtree(out)
        shutil.rmtree(os.path.join(ctx.work, "landing-staged"))
        self.staged_out = {
            "matches": matches,
            "lines": n_lines,
            "bytes": n_bytes,
            "landing_mb": landing_mb,
        }

    def layer_metrics(self, ctx, log) -> dict:
        tr, spans = ctx.tracer, self.staged
        matches = self.staged_out["matches"]

        downloads = [s for s in tr.spans if s["name"] == "landing.download"]
        calls = [s["seconds"] for s in tr.spans if s["name"] == "pipeline.transform_call"]
        writes = [s["seconds"] for s in tr.spans if s["name"] == "pipeline.write_ndjson"]
        pairs = self.landing["truth"]["candidate_pairs"]
        ids = python_udf_metrics(log, span_jobs(log, spans["tops"]))
        return {
            "landing.download_s": statistics.median(s["seconds"] for s in downloads),
            "landing.pages": math.ceil(len(self.landing["consolidated"]) / gen.PAGE_SIZE) + 1,
            "landing.features": len(self.landing["consolidated"]),
            "landing.mb_written": self.staged_out["landing_mb"],
            "geojson.scan_s": spans["scan"]["seconds"],
            "geojson.read_layer_boroughs_s": spans["lb"]["seconds"],
            "pipeline.transform_call_s": statistics.median(calls[1:] or calls),
            "pipeline.transform_call_first_s": calls[0],
            "pipeline.write_ndjson_s": statistics.median(writes[1:] or writes),
            "pipeline.convert_consolidated_s": spans["cons"]["seconds"],
            "pipeline.convert_toponyms_s": spans["tops"]["seconds"],
            "pipeline.write_staged_s": spans["write"]["seconds"],
            "pipeline.output_records": self.staged_out["lines"],
            "pipeline.output_mb": self.staged_out["bytes"] / 2**20,
            "spatial.sameas_s": spans["pip"]["seconds"],
            "spatial.candidate_pairs": pairs,
            "spatial.matches": matches,
            "spatial.match_per_candidate": matches / pairs if pairs else 0.0,
            **ids,
            "layers": {k: spans_metrics(log, [s]) for k, s in spans.items()},
        }


def read_ndjson_output(out_dir: str) -> list[dict]:
    recs = []
    for root, _, files in os.walk(out_dir):
        for name in sorted(files):
            if name.startswith("part-"):
                with open(os.path.join(root, name)) as f:
                    recs += [json.loads(line) for line in f if line.strip()]
    return recs


def check_etl_output(out_dir: str, truth: dict) -> str | None:
    """Record counts per kind and the st:sameAs pair set against the
    generator's ground truth; None when they match."""
    got = Counter()
    same_as = set()
    for rec in read_ndjson_output(out_dir):
        obj = rec["obj"]
        if rec["type"] == "object":
            if obj["type"] == "st:Address":
                got["address_objects"] += 1
            elif obj.get("geometry", {}).get("type") == "Polygon":
                got["building_objects"] += 1
            else:
                got["toponym_objects"] += 1
        elif rec["type"] == "relation":
            if obj["type"] == "st:sameAs":
                same_as.add((obj["from"], obj["to"]))
                got["same_as_relations"] += 1
            elif obj["to"].startswith("mapwarper/"):
                got["mapwarper_relations"] += 1
            else:
                got["address_relations"] += 1
        elif obj["error"].startswith("Can't find borough"):
            got["borough_logs"] += 1
        elif obj["error"].startswith("Can't find building"):
            got["no_match_logs"] += 1
        elif obj["error"].startswith("Error computing intersection"):
            got["no_index_logs"] += 1
        else:
            got["other_logs"] += 1
    want = {k: v for k, v in truth.items() if k not in ("same_as", "candidate_pairs")}
    diff = {k: (got.get(k, 0), v) for k, v in want.items() if got.get(k, 0) != v}
    if got.get("other_logs"):
        diff["other_logs"] = (got["other_logs"], 0)
    if diff:
        return f"record counts (got, want): {diff}"
    if same_as != {tuple(p) for p in truth["same_as"]}:
        return "st:sameAs pair set differs from ground truth"
    return None


# --- query_mix -------------------------------------------------------------------

ONE_SHOT = ["d1_keep_first_dedup", "tpch_q5_local_supplier_volume"]
MULTI_JOB = ["graph_sssp_bounded", "er_resolution_clusters"]
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


class QueryMix(Workload):
    """Registered queries over generated tables, each call + collect."""

    name = "query_mix"
    SCALE = 0.005

    def prepare(self, ctx) -> dict:
        self.sf_dir = os.path.join(ctx.work, "tables")
        tables = gen.make_tables(ctx.seed, self.SCALE)
        gen.write_tables(tables, self.sf_dir)
        self.order = ONE_SHOT + MULTI_JOB
        random.Random(ctx.seed).shuffle(self.order)
        return {
            "scale": self.SCALE,
            "queries": len(self.order),
            **{f"rows.{k}": v.num_rows for k, v in tables.items()},
        }

    def run_round(self, ctx, r: int) -> None:
        from etl_building_inspector_spark.plans.registry import QUERIES

        # the results are collected (not written to a noop sink) so the
        # check reads them without running every query once more
        self.results = {}
        for name in self.order:
            with ctx.tracer.span(name, "plans.registry", top=True, op=True, query=name):
                with ctx.tracer.span("registry.call", "plans.registry", query=name):
                    df = QUERIES[name](ctx.spark, self.sf_dir)
                with ctx.tracer.span("registry.exec", "plans.registry", query=name):
                    self.results[name] = (df.columns, df.collect())

    def check(self, ctx) -> dict[str, str]:
        from etl_building_inspector_spark.plans.registry import ORACLES

        con = duckdb_views(self.sf_dir, TABLES)
        problems = {}
        for name, (columns, rows) in self.results.items():
            problem = compare_to_twin(con, ORACLES[name], columns, rows)
            if problem:
                problems[name] = problem
        con.close()
        return problems

    def layer_metrics(self, ctx, log) -> dict:
        spans = ctx.tracer.spans
        ops = [s for s in spans if s.get("op")]
        first = {s["query"]: s["seconds"] for s in ops if s["round"] == 0}
        repeat: dict[str, list[float]] = {}
        for s in ops:
            if s["round"] > 0:
                repeat.setdefault(s["query"], []).append(s["seconds"])
        calls = [s for s in spans if s["name"] == "registry.call" and s["round"] > 0]
        execs = [s for s in spans if s["name"] == "registry.exec" and s["round"] > 0]
        multi = [s for s in ops if s["round"] > 0 and s["query"] in MULTI_JOB]
        n_rounds = len({s["round"] for s in multi})
        it = spans_metrics(log, multi)
        return {
            "registry.call_s": statistics.median(s["seconds"] for s in calls),
            "registry.call_jobs": statistics.median(len(span_jobs(log, s)) for s in calls),
            "registry.exec_s": statistics.median(s["seconds"] for s in execs),
            "registry.first_extra_s": sum(
                first[q] - statistics.median(v) for q, v in repeat.items()
            ),
            "iterative.jobs": it["spark.jobs"] / n_rounds,
            "iterative.tasks": it["spark.tasks"] / n_rounds,
            "iterative.tiny_task_frac": it["spark.tiny_task_frac"],
            "iterative.driver_gap_s": it["spark.driver_gap_s"] / n_rounds,
            "queries": {
                q: spans_metrics(log, [s for s in ops if s["query"] == q and s["round"] > 0])
                for q in self.order
            },
        }


# --- stream_replay ---------------------------------------------------------------


class StreamReplay(Workload):
    """Two public streaming entry points, one file per trigger."""

    name = "stream_replay"
    SCALE = 0.005
    CORPUS_FILES, EVENT_FILES = 3, 3

    def prepare(self, ctx) -> dict:
        self.tables_dir = os.path.join(ctx.work, "tables")
        self.split_dir = os.path.join(ctx.work, "splits")
        tables = gen.make_tables(ctx.seed, self.SCALE)
        gen.write_tables({k: tables[k] for k in ("documents", "events")}, self.tables_dir)
        files = gen.write_stream_splits(
            tables,
            self.split_dir,
            ctx.seed,
            self.CORPUS_FILES,
            self.EVENT_FILES,
        )
        self.results: dict[str, tuple[list[str], list]] = {}
        self.batches: list[dict] = []
        return {
            "documents": tables["documents"].num_rows,
            "events": tables["events"].num_rows,
            **{f"files.{k}": v for k, v in files.items()},
        }

    def _stream(self, ctx, r: int, name: str, layer: str, body) -> None:
        mark = ctx.streams.mark() if ctx.streams else 0
        with ctx.tracer.span(name, layer, top=True, op=True, stream=True):
            df = body()
            rows = df.collect()
        if ctx.streams:  # untraced: batches from the listener
            for p in ctx.streams.batches_since(mark, 1):
                self.batches.append({"round": r, "stream": name, **p})
        self.results[name] = (df.columns, rows)

    def run_round(self, ctx, r: int) -> None:
        from etl_building_inspector_spark.plans.queries_llm6 import _INC_BANDS, _INC_K
        from etl_building_inspector_spark.streaming.events import (
            EVENTS_SCHEMA,
            run_to_memory,
            streaming_dedup,
        )
        from etl_building_inspector_spark.streaming.minhash import (
            streaming_minhash_index_refresh,
        )

        spark = ctx.spark
        docs = spark.read.parquet(os.path.join(self.tables_dir, "documents.parquet")).select(
            "doc_id", "text"
        )

        def file_stream(split: str, schema: str):
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(self.split_dir, split))
            )

        def minhash():
            return streaming_minhash_index_refresh(
                spark,
                file_stream("corpus", "doc_id long, text string"),
                docs.filter(F.col("doc_id") % 10 == 7),
                text_col="text",
                id_col="doc_id",
                k=_INC_K,
                bands=_INC_BANDS,
            ).select("doc_id", "hit_bands", "n_index_docs", "first_match_id")

        def dedup():
            events = os.path.join(self.split_dir, "events")
            a, b = (
                spark.readStream.schema(EVENTS_SCHEMA).option("maxFilesPerTrigger", 1).parquet(events)
                for _ in range(2)
            )
            out = run_to_memory(
                streaming_dedup(a.unionByName(b), ["event_id"]),
                f"perfbench_dedup_{r}",
                mode="append",
            )
            return out.select("event_id", "user_id", "event_type", "ts")

        self._stream(ctx, r, "stream.minhash", "streaming.minhash", minhash)
        self._stream(ctx, r, "stream.dedup", "streaming.events", dedup)

    def op_latencies_s(self, ctx, rounds: set[int]) -> dict[str, list[float]]:
        ops: dict[str, list[float]] = {}
        for b in self.batches:
            if b["round"] in rounds:
                ops.setdefault(b["stream"], []).append(b["durationMs"]["triggerExecution"] / 1000.0)
        return ops

    def check(self, ctx) -> dict[str, str]:
        from etl_building_inspector_spark.plans.registry import ORACLES

        con = duckdb_views(self.tables_dir, ["documents", "events"])
        problems = {}
        for name, twin in (
            ("stream.minhash", "streaming_minhash_refresh"),
            ("stream.dedup", "streaming_dedup_exact"),
        ):
            cols, rows = self.results[name]
            problem = compare_to_twin(con, ORACLES[twin], cols, rows)
            if problem:
                problems[name] = problem
        con.close()
        return problems

    def layer_metrics(self, ctx, log) -> dict:
        streams = [s for s in ctx.tracer.spans if s.get("stream")]
        rep_spans = [s for s in streams if s["round"] > 0] or streams
        n_rounds = len({s["round"] for s in rep_spans})
        rep = [
            {"stream": s["name"], **p} for s in rep_spans for p in span_batches(log, s)
        ]

        def phase(key):
            vals = [b["durationMs"][key] for b in rep if key in b["durationMs"]]
            return statistics.median(vals) if vals else 0.0

        lat = sorted(b["durationMs"]["triggerExecution"] for b in rep)
        state = [
            (op.get("numRowsTotal", 0), op.get("memoryUsedBytes", 0))
            for b in rep
            for op in b.get("stateOperators", [])
        ]
        per_stream = {}
        thread_jobs_total = 0
        for name in ("stream.minhash", "stream.dedup"):
            ss = [s for s in rep_spans if s["name"] == name]
            jobs = set().union(*(span_jobs(log, s) for s in ss))
            thread_jobs = {j for j in jobs if log["jobs"][j]["query_id"] is not None}
            thread_jobs_total += len(thread_jobs)
            per_stream[name] = {
                **spans_metrics(log, ss),
                "stream_thread_jobs": len(thread_jobs),
                "batches": sum(1 for b in rep if b["stream"] == name),
            }
        return {
            "stream.batches": len(rep) / n_rounds,
            "stream.input_rows": sum(input_rows(b) for b in rep) / n_rounds,
            "stream.batch_p50_ms": statistics.median(lat),
            "stream.batch_p90_ms": lat[min(len(lat) - 1, int(0.9 * len(lat)))],
            "stream.batch_samples": len(lat),
            **{
                f"stream.{k}_ms": phase(k)
                for k in (
                    "addBatch",
                    "queryPlanning",
                    "walCommit",
                    "commitOffsets",
                    "latestOffset",
                    "getBatch",
                )
            },
            "stream.jobs_per_batch": thread_jobs_total / max(1, len(rep)),
            "stream.state_rows": max((rows for rows, _ in state), default=0),
            "stream.state_mb": max((mem for _, mem in state), default=0) / 2**20,
            "streams": per_stream,
        }


WORKLOADS = {w.name: w for w in (EtlTransform, QueryMix, StreamReplay)}
