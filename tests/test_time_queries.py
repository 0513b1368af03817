"""tools/time_queries.py --conf: the interleaved A/B mode prints one
result line per query and the TOTALS line."""

from __future__ import annotations

import importlib.util
import os

TOOL = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "time_queries.py")


def test_conf_ab_prints_result_and_totals(spark, sf_dir, capsys):
    spec = importlib.util.spec_from_file_location("time_queries", TOOL)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        tool.main(["--sf", sf_dir, "--n", "1", "--conf", key, "2", "4", "flagship_enrich"])
    finally:
        spark.conf.set(key, before)
    lines = capsys.readouterr().out.splitlines()
    assert [ln.split()[0] for ln in lines] == ["flagship_enrich", "TOTALS:"]
    assert "B speedup" in lines[0]
