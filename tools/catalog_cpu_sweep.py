#!/usr/bin/env python
"""Full-catalog warm CPU sweep: execute every catalog query at
$SPARK_GRAFT_SF_DIR (default sf0.1) twice — the first pass warms
JIT/codegen/memos, the second is timed with the noop sink (guide §1.4,
every column materialized) and process-tree CPU. Prints one JSON line
per query to stdout (tail: a sorted summary), so a reader can rank the
catalog by what the engine itself burns and cross-check each expensive
entry against OPTIMIZATION_r*.md's recorded reasons.

Not a driver artifact — a measurement tool (guide §1: measure first).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from anti_money_laundering_spark.plans.catalog import get_catalog  # noqa: E402
from anti_money_laundering_spark.session import get_spark  # noqa: E402
from perfbench.meter import tree_cpu_by_kind  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ONLY = set(sys.argv[1:])  # optional: sweep just the named queries


def main() -> None:
    spark = get_spark(app_name="catalog_cpu_sweep")
    catalog = get_catalog()
    results = {}
    for name, q in catalog.items():
        if ONLY and name not in ONLY:
            continue
        spark.sparkContext.setJobDescription(f"sweep-warm: {name}")
        try:
            q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        except Exception as e:  # streaming fixtures etc. surface loudly
            print(json.dumps({"query": name, "err": str(e)[:200]}), flush=True)
            continue
        spark.sparkContext.setJobDescription(f"sweep-timed: {name}")
        c0, t0 = sum(tree_cpu_by_kind().values()), time.perf_counter()
        q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        wall, cpu = time.perf_counter() - t0, sum(tree_cpu_by_kind().values()) - c0
        results[name] = (round(wall, 3), round(cpu, 3))
        print(json.dumps({"query": name, "wall": results[name][0], "cpu": results[name][1]}), flush=True)
    spark.sparkContext.setJobDescription(None)
    print("== top by CPU ==")
    for name, (wall, cpu) in sorted(results.items(), key=lambda kv: -kv[1][1])[:30]:
        print(f"{name:40s} wall {wall:8.3f}  cpu {cpu:8.3f}")


if __name__ == "__main__":
    main()
