#!/usr/bin/env python
"""Capture the normalised ``explain("formatted")`` plan of declared queries
into text files (the evidence convention: plans/<round>/<query>_<tag>.txt).

Usage: python scripts/capture_plans.py OUT_DIR TAG [query ...]

With no query list, captures every declared query.  TAG is appended to
the filename (e.g. "before" -> plans/pr8/knn_euclid_before.txt).  Each
query is built and explained without being run, through ``bench.explain``,
the same function that fingerprints every plan in the bench records; see
``bench.normalize`` for the per-session noise it strips.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
import bench
from bigvectorbench_spark import get_spark


def main() -> None:
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name in names or list(qs):
        try:
            plan = bench.explain(qs[name](spark, sf_dir))
        except Exception as e:  # a query that cannot even plan is itself news
            plan = bench.normalize(f"PLANNING FAILED: {type(e).__name__}: {e}\n")
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"  {name}: {len(plan)} chars", file=sys.stderr, flush=True)
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
