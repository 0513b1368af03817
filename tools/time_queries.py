"""Time registered queries in one session, bench-style (noop sink,
release_persisted + gc between runs).

Usage:
  python tools/time_queries.py [--n 3] [--sf DIR] query [query...]
      a cold run, then N warm reruns; prints cold and warm best.
  python tools/time_queries.py --conf KEY A B [--n 3] [--sf DIR] query [query...]
      interleaved A/B of a runtime SQL conf (host-noise-robust): one
      unmeasured warmup, then N reps alternating A and B; prints each
      side's best, B's speedup, and the TOTALS of the bests.

To A/B a code change, run this file alternately from a checkout of the
parent commit and from a checkout of the change: it imports the package
of the checkout it sits in.
"""

from __future__ import annotations

import argparse
import gc
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from etl_building_inspector_spark.operators._cache import (  # noqa: E402
    release_persisted,
)
from etl_building_inspector_spark.plans.registry import QUERIES  # noqa: E402
from etl_building_inspector_spark.session import get_spark  # noqa: E402


def _fmt(xs: list[float]) -> str:
    return "/".join(f"{x:.2f}" for x in xs)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--conf", nargs=3, metavar=("KEY", "A", "B"))
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args(argv)

    spark = get_spark("time-queries")
    spark.read.parquet(os.path.join(args.sf, "region.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()

    def run(name: str) -> float:
        t0 = time.time()
        QUERIES[name](spark, args.sf).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        release_persisted()
        gc.collect()
        return dt

    if not args.conf:
        for name in args.queries:
            cold = run(name)
            warm = [run(name) for _ in range(args.n)]
            print(f"{name:44s} cold {cold:6.2f}  warm best {min(warm):6.2f} [{_fmt(warm)}]")
        return

    key, val_a, val_b = args.conf
    tot_a = tot_b = 0.0
    for name in args.queries:
        run(name)  # warmup
        a, b = [], []
        for _ in range(args.n):
            spark.conf.set(key, val_a)
            a.append(run(name))
            spark.conf.set(key, val_b)
            b.append(run(name))
        tot_a += min(a)
        tot_b += min(b)
        print(
            f"{name:42s} A min {min(a):6.3f} [{_fmt(a)}]  "
            f"B min {min(b):6.3f} [{_fmt(b)}]  B speedup {min(a)/min(b):5.2f}x"
        )
    print(f"TOTALS: A {tot_a:.2f}  B {tot_b:.2f}  ({tot_a/tot_b:.2f}x)")


if __name__ == "__main__":
    main()
