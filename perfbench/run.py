"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one Spark session at
``local[4]``, one closed-loop client: after set-up and input generation
the workload repeats rounds of public calls until ``--seconds`` have
passed (round 0 is the process's first, cold round; later rounds are
repeats), then checks the last round's outputs outside the timed region.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it carries the
run's details (input sizes, host load, per-layer tables); the same
details and every span of the run are kept under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = "4"
DRIVER_MEM = "2g"


def process_start_time() -> float:
    """Wall-clock time this interpreter started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(work: str, trace: bool) -> None:
    """Same Spark sizing on both sides of every comparison, and every
    scratch file (JVM temp, shuffle, stream checkpoints, event log)
    inside the run's work dir."""
    tmp, local, log = (os.path.join(work, d) for d in ("tmp", "local", "eventlog"))
    for d in (tmp, local, log):
        os.makedirs(d)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": CPUS,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "TZ": "UTC",
        }
    )
    time.tzset()
    # a fixed, pre-touched heap: the JVM's resident set then does not
    # follow G1's timing-dependent heap sizing, so peak_rss_mb moves
    # with off-heap and Python-side memory; heap pressure shows as GC time
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    args = [
        "--driver-java-options", java_opts,
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


class Context:
    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.spark = None
        self.tracer = None
        self.streams = None


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and the Python
    workers it started) to exit, also when stopping the session fails:
    the JVM outlives a Python process that dies without shutting it down."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = gateway.proc
            try:
                gateway.shutdown()
            finally:
                SparkContext._gateway = SparkContext._jvm = None
                proc.stdin.close()  # the gateway server exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def round_sums(spans: list[dict], key: str) -> dict[int, float]:
    """Per round, the sum of ``key`` over the round's top-level spans."""
    sums: dict[int, float] = {}
    for s in spans:
        sums[s["round"]] = sums.get(s["round"], 0.0) + s[key]
    return sums


def run(args) -> dict:
    t_proc = process_start_time()
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        return _run(args, t_proc, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, t_proc: float, work: str) -> dict:
    sys.path.insert(0, ROOT)
    import etl_building_inspector_spark  # noqa: F401 -- fail fast without the package

    import workloads
    from tracing import (
        HostLoad,
        StreamCollector,
        Tracer,
        jvm_pid,
        read_eventlog,
        spans_metrics,
        tree_cpu_s,
        vm_hwm_mb,
    )

    wl = workloads.WORKLOADS[args.workload]()
    trace = bool(args.trace)
    results_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results_dir, exist_ok=True)
    os.makedirs(work)
    pin_environment(work, trace)
    host = HostLoad()
    ctx = Context(args.seed, work)
    errors: list[str] = []
    try:
        from etl_building_inspector_spark.session import get_spark

        t0 = time.time()
        ctx.spark = get_spark("perfbench")
        t1 = time.time()
        ctx.spark.range(0, 200_000, numPartitions=4).selectExpr("sum(id)").collect()
        t2 = time.time()
        setup = {
            "setup_s": tree_cpu_s(),  # nothing else has run in this process yet
            "setup_wall_s": t2 - t_proc,
            "session.get_spark_s": t1 - t0,
            "session.warmup_s": t2 - t1,
        }
        if not trace:
            # a traced run reads streaming progress from its event log;
            # PySpark's listener cannot decode start events of queries
            # started under job tags
            ctx.streams = StreamCollector()
            ctx.spark.streams.addListener(ctx.streams)
        ctx.tracer = Tracer(f"{wl.name}-s{args.seed}", ctx.spark.sparkContext, tag_jobs=trace)
        t_gen = time.time()
        sizes = wl.prepare(ctx)
        sizes["gen_s"] = time.time() - t_gen

        deadline = time.time() + args.seconds
        r = 0
        while r < 2 or time.time() < deadline:
            ctx.tracer.round = r
            try:
                wl.run_round(ctx, r)
            except Exception:  # noqa: BLE001 -- a failed op is counted, not fatal
                errors.append(traceback.format_exc(limit=4))
                break
            r += 1
        checks = wl.check(ctx) if not errors else {}
        # Python workers are left out: they are forked, short-lived and
        # share pages with their daemon, so their high-water marks neither
        # add up nor survive until the reading
        rss = {"python": vm_hwm_mb(), "jvm": vm_hwm_mb(jvm_pid(ctx.spark.sparkContext))}
        if trace and not errors:
            ctx.tracer.round = -1  # the staged pass is no round
            wl.stage(ctx)
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)

    spans = ctx.tracer.spans
    top = [s for s in spans if s.get("top")]
    timed = [s for s in top if s["round"] >= 0]
    walls, cpus = round_sums(timed, "seconds"), round_sums(timed, "cpu_s")
    repeat_rounds = {rr for rr in walls if rr > 0}
    # an op fails if it timed out or its output check failed (an op that
    # raised has ended the run)
    failed = sum(1 for s in top if s["seconds"] > workloads.OP_TIMEOUT_S)
    failed += len(checks)
    attempted = len(top)
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": trace,
        "inputs": sizes,
        "round_walls_s": [walls[k] for k in sorted(walls)],
        "round_cpu_s": [cpus[k] for k in sorted(cpus)],
        "top_spans": [(s["round"], s["name"], s["seconds"]) for s in top],
        "failed_frac": failed / max(1, attempted),
        "errors": errors,
        "checks": checks,
        "env": {**host.read(), "cpus": CPUS, "driver_mem": DRIVER_MEM},
        "peak_rss_mb": rss,
        **setup,
    }
    if errors:
        metrics = {}
    elif trace:
        log = read_eventlog(os.path.join(work, "eventlog"))
        per_round = [spans_metrics(log, [s for s in top if s["round"] == rr]) for rr in repeat_rounds]
        detail["layers"] = wl.layer_metrics(ctx, log)
        metrics = {
            "session.get_spark_s": (setup["session.get_spark_s"], "s"),
            "session.warmup_s": (setup["session.warmup_s"], "s"),
            "trace.wall_s": (statistics.median(walls[rr] for rr in repeat_rounds), "s"),
            "trace.round_cpu_s": (statistics.median(cpus[rr] for rr in repeat_rounds), "s"),
        }
        for key, unit in SCHEDULER_UNITS.items():
            metrics[key] = (statistics.median(m[key] for m in per_round), unit)
    else:
        ops = wl.op_latencies_s(ctx, repeat_rounds)
        lat = [v for vs in ops.values() for v in vs]
        detail["op_ms"] = {k: [v * 1000.0 for v in vs] for k, vs in ops.items()}
        detail["wall"] = {
            "wall_s": statistics.median(walls[rr] for rr in repeat_rounds),
            "first_s": walls[0],
            "op_p50_ms": statistics.median(lat) * 1000.0,
        }
        op_cpu = [s["cpu_s"] for s in timed if s.get("op") and s["round"] in repeat_rounds]
        detail["op_cpu_p50_ms"] = statistics.median(op_cpu) * 1000.0
        metrics = {
            "setup_s": (setup["setup_s"], "s"),
            "round_cpu_s": (statistics.median(cpus[rr] for rr in repeat_rounds), "s"),
            "first_round_cpu_s": (cpus[0], "s"),
            "peak_rss_mb": (rss["python"] + rss["jvm"], "MB"),
        }
    detail["metrics"] = {k: v for k, (v, _) in metrics.items()}
    name = f"{wl.name}-s{args.seed}-t{int(trace)}-{os.getpid()}.json"
    with open(os.path.join(results_dir, name), "w") as f:
        json.dump({**detail, "spans": spans}, f, indent=1, default=str)
    print(json.dumps({"perfbench_detail": detail}, default=str))
    if errors:
        raise RuntimeError("workload raised:\n" + "\n".join(errors))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


SCHEDULER_UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tiny_tasks": "count",
    "spark.tiny_task_frac": "ratio",
    "spark.task_run_s": "s",
    "spark.task_launch_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.driver_gap_s": "s",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["etl_transform", "query_mix", "stream_replay"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # a terminated run still stops its JVM (run() cleans up in finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(ap.parse_args())
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
