"""Tests of the benchmark itself: seeded inputs are reproducible, a tiny
run matches its ground truth, and a corrupted output counts as failed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import workloads  # noqa: E402


def _landed(seed: int, root: str) -> dict:
    from etl_building_inspector_spark.sources.landing import download

    landing = gen.make_landing(seed, n_features=1500, n_toponyms=600)
    base = "http://landing.invalid/api"
    return download(root, base, gen.landing_server(landing, base), sleep_s=0)


def _same_files(a: dict, b: dict) -> bool:
    return all(filecmp.cmp(a[k], b[k], shallow=False) for k in a)


def test_landing_is_a_function_of_the_seed(tmp_path):
    a = _landed(11, str(tmp_path / "a"))
    b = _landed(11, str(tmp_path / "b"))
    c = _landed(12, str(tmp_path / "c"))
    assert _same_files(a, b)
    assert not filecmp.cmp(a["consolidated"], c["consolidated"], shallow=False)
    assert not filecmp.cmp(a["toponyms"], c["toponyms"], shallow=False)
    # 1500 features land as two 1000-feature pages
    with open(a["consolidated"]) as f:
        assert sum(1 for _ in f) == 1500


def test_tables_and_stream_splits_are_a_function_of_the_seed(tmp_path):
    def build(seed: int, name: str) -> str:
        out = tmp_path / name
        tables = gen.make_tables(seed, scale=0.001)
        gen.write_tables(tables, str(out / "tables"))
        gen.write_stream_splits(tables, str(out / "splits"), seed, 3, 3)
        return str(out)

    a, b, c = build(5, "a"), build(5, "b"), build(6, "c")
    files = sorted(
        os.path.relpath(os.path.join(d, f), a) for d, _, fs in os.walk(a) for f in fs
    )
    assert len(files) == 10 + 6
    for rel in files:
        assert filecmp.cmp(os.path.join(a, rel), os.path.join(b, rel), shallow=False), rel
    assert not filecmp.cmp(
        os.path.join(a, "tables", "lineitem.parquet"),
        os.path.join(c, "tables", "lineitem.parquet"),
        shallow=False,
    )


def test_landing_truth_is_consistent():
    t = gen.make_landing(3, n_features=2000, n_toponyms=1000)["truth"]
    assert t["same_as_relations"] == len(t["same_as"]) > 0
    assert t["no_match_logs"] > 0 and t["no_index_logs"] > 0 and t["borough_logs"] > 0
    assert t["mapwarper_relations"] == 2 * (t["building_objects"] + t["toponym_objects"])


def test_twin_comparison_catches_a_changed_value():
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k INTEGER, x DOUBLE)")
    con.execute("INSERT INTO t VALUES (1, 0.5), (2, 1.5)")
    sql = "SELECT k, x FROM t"
    assert workloads.compare_to_twin(con, sql, ["x", "k"], [(1.5, 2), (0.5, 1)]) is None
    assert workloads.compare_to_twin(con, sql, ["k", "x"], [(1, 0.5), (2, 1.25)])
    assert workloads.compare_to_twin(con, sql, ["k", "x"], [(1, 0.5)])


# Each run gets its own process, as under the benchmark command: the
# package keeps per-process Spark state that a second session in one
# process cannot reuse.
_RUN = """
import os, sys
sys.path[:0] = [{here!r}, os.path.dirname({here!r})]
import run, workloads
workloads.EtlTransform.N_FEATURES = 400
workloads.EtlTransform.N_TOPONYMS = 200
{patch}
sys.argv = ["run.py", "--workload", "etl_transform", "--seed", "{seed}", "--seconds", "0"]
sys.exit(run.main())
"""

_CORRUPT = """
original = workloads.EtlTransform.run_round
def corrupting_round(self, ctx, r):
    original(self, ctx, r)
    for root, _, files in os.walk(self.out):
        for name in sorted(files):
            path = os.path.join(root, name)
            if name.startswith("part-") and os.path.getsize(path):
                with open(path) as f:
                    lines = f.readlines()
                with open(path, "w") as f:
                    f.writelines(lines[1:])  # drop one record
                return
workloads.EtlTransform.run_round = corrupting_round
"""


def _tiny_etl_run(seed: int, patch: str = "") -> dict:
    script = _RUN.format(here=HERE, patch=patch, seed=seed)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=os.path.dirname(HERE),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_tiny_etl_run_matches_ground_truth():
    result = _tiny_etl_run(21)
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == 4  # two rounds: download + transform_write each
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["end_to_end"]}
    assert set(result["metrics"]) == names


def test_corrupted_output_counts_as_failed():
    result = _tiny_etl_run(22, _CORRUPT)
    assert not result["correct"]
    assert result["failed"] == 1
