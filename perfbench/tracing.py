"""Measurement plumbing: spans around public calls, streaming progress,
the Spark event-log rollup, process memory and host contention.

Spans are kept in memory and written out when the run ends. In a traced
run every span also tags the Spark jobs started inside it
(``SparkContext.addJobTag``); stream-thread jobs carry no caller tag, so
they are attributed through the streaming query id Spark stores in each
of their job properties.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

TAG_PREFIX = "perfbench-span-"
TINY_TASK_MS = 20


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it -- the driver JVM, the Python worker daemon and its
    workers -- counting exited children through their parent's reaped
    totals. Time the hypervisor stole from the VM is not in it."""
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            tids = os.listdir(f"/proc/{pid}/task")
        except FileNotFoundError:  # the process exited: its parent reaped it
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo += [int(c) for c in f.read().split()]
            except FileNotFoundError:  # the thread exited
                pass
    return total / os.sysconf("SC_CLK_TCK")


class Tracer:
    """Records one span per public call: name, layer, start, end, CPU
    seconds of the process tree, parent and run id. With ``tag_jobs``
    the span's id is added as a Spark job tag for its duration."""

    def __init__(self, run_id: str, sc, tag_jobs: bool):
        self.run_id = run_id
        self.sc = sc
        self.tag_jobs = tag_jobs
        self.spans: list[dict] = []
        self.round = 0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "round": self.round,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        tag = f"{TAG_PREFIX}{sid}"
        if self.tag_jobs:
            self.sc.addJobTag(tag)
        cpu0 = tree_cpu_s()
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["seconds"] = rec["end"] - rec["start"]
            rec["cpu_s"] = tree_cpu_s() - cpu0
            if self.tag_jobs:
                self.sc.removeJobTag(tag)
            self._stack.pop()


class StreamCollector(StreamingQueryListener):
    """Collects progress events per streaming query id (untraced runs;
    a traced run reads the same events from its event log). Listener
    events arrive asynchronously: a query's batches are read only after
    its terminated event, which the bus delivers after its progress."""

    def __init__(self):
        self.progress: dict[str, list[dict]] = {}
        self.terminated: list[str] = []
        self._cond = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._cond:
            self.progress.setdefault(p["id"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cond:
            self.terminated.append(str(event.id))
            self._cond.notify_all()

    def mark(self) -> int:
        with self._cond:
            return len(self.terminated)

    def batches_since(self, mark: int, n_queries: int, timeout: float = 30.0) -> list[dict]:
        """Wait until ``n_queries`` more queries have terminated since
        ``mark``, then return their progress events that read input."""
        with self._cond:
            if not self._cond.wait_for(
                lambda: len(self.terminated) >= mark + n_queries, timeout
            ):
                raise TimeoutError("streaming query terminated events did not arrive")
            qids = self.terminated[mark : mark + n_queries]
            return [p for q in qids for p in self.progress.get(q, []) if input_rows(p) > 0]


# --- host and process readings ---------------------------------------------------


def vm_hwm_mb(pid: int | str = "self") -> float:
    """High-water resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(sc) -> int:
    """The driver JVM of this SparkContext (spark-submit execs java in
    place, so the launched process is the JVM itself)."""
    pid = sc._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as f:
        comm = f.read().strip()
    if comm != "java":
        raise RuntimeError(f"gateway process {pid} is {comm!r}, not the JVM")
    return pid


class HostLoad:
    """CPU pressure, steal and load over an interval, with the readers
    bench.py uses for its env stanza."""

    def __init__(self):
        import bench

        self._steal, self._psi = bench._steal_jiffies, bench._psi_cpu_some_us
        self.t0, self.steal0, self.psi0 = time.time(), self._steal(), self._psi()

    def read(self) -> dict:
        elapsed = max(1e-9, time.time() - self.t0)
        steal1, psi1 = self._steal(), self._psi()
        steal = (
            100.0 * (steal1 - self.steal0) / os.sysconf("SC_CLK_TCK") / (os.cpu_count() * elapsed)
            if self.steal0 >= 0 and steal1 >= 0
            else None
        )
        psi = 100.0 * (psi1 - self.psi0) / 1e6 / elapsed if self.psi0 >= 0 and psi1 >= 0 else None
        return {"psi_cpu_pct": psi, "steal_pct": steal, "load1": os.getloadavg()[0]}


# --- event-log rollup ------------------------------------------------------------


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    """accumulator id -> (node name, metric name) over a plan tree."""
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


def _eventlog_lines(log_dir: str):
    """Lines of the run's one application log, plain or rolling (a
    directory of events_<n>_* files)."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    path = os.path.join(log_dir, name)
    files = [path]
    if os.path.isdir(path):
        parts = [n for n in os.listdir(path) if n.startswith("events_")]
        files = [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
    for fp in files:
        with open(fp) as f:
            yield from f


def read_eventlog(log_dir: str) -> dict:
    """Parse the run's event log: jobs (with their tags and streaming
    query id), tasks, SQL metric names, and streaming query events."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    accums: dict[int, tuple[str, str]] = {}
    queries: dict[str, dict] = {}
    for line in _eventlog_lines(log_dir):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": len(ev["Stage IDs"]),
                "tags": set(filter(None, props.get("spark.job.tags", "").split(","))),
                "query_id": props.get("sql.streaming.queryId"),
            }
            for s in ev["Stage IDs"]:
                stage_job[s] = jid
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            dur = info["Finish Time"] - info["Launch Time"]
            run = m.get("Executor Run Time", 0)
            other = m.get("Result Serialization Time", 0) + info.get("Getting Result Time", 0)
            tasks.append(
                {
                    "job": stage_job.get(ev["Stage ID"]),
                    "dur_ms": dur,
                    "run_ms": run,
                    # scheduler delay + deserialisation: launch overhead
                    "launch_ms": max(0, dur - run - other),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_b": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "accums": [
                        (a["ID"], a.get("Update"))
                        for a in info.get("Accumulables", [])
                        if isinstance(a.get("Update"), (int, float, str))
                    ],
                }
            )
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metrics(ev["sparkPlanInfo"], accums)
        elif kind.endswith("QueryStartedEvent"):
            queries[ev["id"]] = {"tags": set(ev.get("jobTags") or []), "progress": []}
        elif kind.endswith("QueryProgressEvent"):
            p = ev["progress"]
            queries.setdefault(p["id"], {"tags": set(), "progress": []})["progress"].append(p)
    return {"jobs": jobs, "tasks": tasks, "accums": accums, "queries": queries}


def scheduler_metrics(log: dict, job_ids: set[int], intervals: list[tuple[float, float]]) -> dict:
    """Spark-scheduler metrics over a set of jobs, with the driver gap
    measured against the given span intervals."""
    jobs = [log["jobs"][j] for j in job_ids]
    tasks = [t for t in log["tasks"] if t["job"] in job_ids]
    job_iv = [(j["start"], j["end"]) for j in jobs if j["end"] is not None]
    covered = 0.0
    for a, b in intervals:
        covered += _union_s([(max(a, x), min(b, y)) for x, y in job_iv if x < b and y > a])
    n_tasks = len(tasks)
    tiny = sum(1 for t in tasks if t["dur_ms"] < TINY_TASK_MS)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": n_tasks,
        "spark.tiny_tasks": tiny,
        "spark.tiny_task_frac": tiny / n_tasks if n_tasks else 0.0,
        "spark.task_run_s": sum(t["run_ms"] for t in tasks) / 1000.0,
        "spark.task_launch_s": sum(t["launch_ms"] for t in tasks) / 1000.0,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "spark.shuffle_write_mb": sum(t["shuffle_b"] for t in tasks) / 2**20,
        "spark.spill_mb": sum(t["spill_b"] for t in tasks) / 2**20,
        "spark.driver_gap_s": sum(b - a for a, b in intervals) - covered,
    }


def span_jobs(log: dict, span: dict) -> set[int]:
    """Jobs tagged with the span, plus the stream-thread jobs of the
    streaming queries started inside it: those carry no caller tag, only
    their query id, whose start event carries the caller's tags."""
    tag = f"{TAG_PREFIX}{span['id']}"
    streams = {q for q, info in log["queries"].items() if tag in info["tags"]}
    return {
        jid
        for jid, j in log["jobs"].items()
        if tag in j["tags"] or j["query_id"] in streams
    }


def input_rows(progress: dict) -> int:
    """Rows a micro-batch read (the event log omits the top-level sum)."""
    return sum(src.get("numInputRows", 0) for src in progress.get("sources", []))


def spans_metrics(log: dict, spans: list[dict]) -> dict:
    """Scheduler metrics over the jobs of a set of spans, the driver gap
    measured against the spans' own intervals."""
    jobs = set().union(*(span_jobs(log, s) for s in spans))
    return scheduler_metrics(log, jobs, [(s["start"], s["end"]) for s in spans])


def span_batches(log: dict, span: dict) -> list[dict]:
    """Progress events (batches that read input) of the streaming queries
    started inside the span."""
    tag = f"{TAG_PREFIX}{span['id']}"
    return [
        p
        for info in log["queries"].values()
        if tag in info["tags"]
        for p in info["progress"]
        if input_rows(p) > 0
    ]


def python_udf_metrics(log: dict, job_ids: set[int]) -> dict:
    """Rows out of and run time of the Python UDF evaluation nodes
    (ArrowEvalPython, BatchEvalPython), from task accumulator updates."""
    wanted = {"number of output rows": "ids.python_rows", "time to run Python workers": "ids.python_s"}
    out = dict.fromkeys(wanted.values(), 0.0)
    for t in log["tasks"]:
        if t["job"] not in job_ids:
            continue
        for aid, upd in t["accums"]:
            node, metric = log["accums"].get(aid, ("", ""))
            if "EvalPython" in node and metric in wanted:
                out[wanted[metric]] += float(upd)
    out["ids.python_s"] /= 1000.0  # timing metrics are in ms
    return out
