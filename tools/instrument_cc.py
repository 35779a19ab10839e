#!/usr/bin/env python
"""Stage-level diagnostics for the connected_components bench drift
(VERDICT r3 item 1: 1.69 -> 2.22 -> 2.99 s across rounds with unchanged
code). Runs the exact catalog query (identity graph at
$SPARK_GRAFT_SF_DIR, default sf0.1) N times in one session — same
warmup+repeat shape as bench.py — and prints per-run:

- wall seconds (plan build + execution, like bench.py times it)
- fixpoint rounds + per-round wall seconds (from connected_components'
  stats hook)
- Spark job/stage deltas and executor-run-time / shuffle metrics from
  the status store REST-equivalent (statusTracker + SparkStatusStore)

If rounds and stage counts are flat across runs and rounds match older
rounds' topology, the drift is machine noise; if rounds grew, the
fixture graph changed; if stage counts grew at equal rounds, lineage is
re-executing. Output: one JSON line per run + a summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from anti_money_laundering_spark.graph import components  # noqa: E402
from anti_money_laundering_spark.graph.components import connected_components  # noqa: E402
from anti_money_laundering_spark.plans.fixture_graphs import identity_graph  # noqa: E402
from anti_money_laundering_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "5"))


def _job_stage_counts(sc) -> tuple[int, int]:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(None) or []
    stages = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages += len(info.stageIds)
    return len(jobs), stages


def main() -> None:
    # this tool diagnoses the LOOP's per-round behavior; a budget no
    # graph fits turns off the small-graph collapse that replaces the
    # loop at fixture scale
    components.SMALL_GRAPH_COLLAPSE_ROWS = -1
    spark = get_spark(app_name="cc_instrument")
    sc = spark.sparkContext

    runs = []
    for i in range(PASSES + 1):  # first run is warmup, still recorded
        j0, s0 = _job_stage_counts(sc)
        stats: dict = {}
        t0 = time.perf_counter()
        g = identity_graph(spark, SF_DIR)
        n = connected_components(g, stats=stats).count()
        wall = round(time.perf_counter() - t0, 3)
        j1, s1 = _job_stage_counts(sc)
        rec = {
            "run": "warmup" if i == 0 else i,
            "wall_sec": wall,
            "rows": n,
            "rounds": stats["rounds"],
            "round_seconds": stats["round_seconds"],
            "jobs": j1 - j0,
            "stages": s1 - s0,
        }
        runs.append(rec)
        print(json.dumps(rec), flush=True)

    timed = [r for r in runs if r["run"] != "warmup"]
    walls = [r["wall_sec"] for r in timed]
    print(
        json.dumps(
            {
                "summary": True,
                "sf_dir": SF_DIR,
                "passes": len(timed),
                "min": min(walls),
                "max": max(walls),
                "mean": round(sum(walls) / len(walls), 3),
                "rounds": sorted({r["rounds"] for r in timed}),
                "stages_per_run": sorted({r["stages"] for r in timed}),
            }
        )
    )


if __name__ == "__main__":
    main()
