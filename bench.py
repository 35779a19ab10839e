#!/usr/bin/env python
"""Benchmark harness (driver contract): run the engine's headline
queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan build + execution) with a
``count()`` action so results never collect to the driver.

Protocol (round 6 — r5 verdict item 6): THREE warmup sweeps amortize
JVM class loading, codegen, parquet footer reads and the residual JIT
decay (SCALE_CC_r04.json: identical work decays over the first ~3
executions), then each query is timed over PASSES interleaved sweeps
and the per-query MEDIAN is reported. The previous min-of-N sat on the
steep part of the warm-up curve and could not resolve a real ~15%
regression from box noise (the shared host swings ±25% through the
day); the median is robust to one slow neighbor-noise outlier AND one
fast still-warming outlier, and the emitted ``dispersion`` block
(per-query min/max/relative spread) lets a reader judge whether a
round-over-round delta exceeds the run's own noise floor.

Protocol v3 (round 7 — r6 verdict item 7): each query also reports
``cpu`` — the PROCESS-TREE CPU seconds consumed during the timed run
(python driver + JVM + Arrow/pandas workers, the sum of
``perfbench/meter.py``'s per-kind split: live descendants via their
/proc stat and reaped ones via their parents' cutime/cstime).
Wall time on a shared host confounds the engine's work with neighbor
load; CPU time is what the engine itself burned and is the
noise-robust half of the dual metric (a wall regression with flat CPU
is the box, not the code). See BASELINE.md §protocol.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from anti_money_laundering_spark.plans.catalog import get_catalog  # noqa: E402
from anti_money_laundering_spark.session import get_spark  # noqa: E402
from perfbench.meter import tree_cpu_by_kind  # noqa: E402
from perfbench.run import calibrate  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "5"))
WARMUPS = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUPS", "3"))


def _sf_from_dir(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    spark = get_spark(app_name="aml_bench")
    catalog = get_catalog()
    headline = {n: q for n, q in catalog.items() if q.headline}
    # Host-speed readings (perfbench's fixed-work Spark job) at the start
    # and end of the run, so a reader can tell a slow host from slow
    # code. The first call compiles the job's plan and is not kept.
    cores = spark.sparkContext.defaultParallelism
    calibrate(spark, cores)
    calib_start = calibrate(spark, cores)

    for _ in range(WARMUPS):
        for name, q in headline.items():
            spark.sparkContext.setJobDescription(f"warmup: {name}")
            q.fn(spark, SF_DIR).count()

    # Protocol v4 (r14; r13 verdict item 3): evict the per-session
    # LSH/pairs/TF-IDF/linkage-EM derivation memos AFTER the warmups
    # so the FIRST timed pass re-derives from the parquet inputs — its
    # per-query times are emitted as ``cold_first_pass``. Without this the
    # memo-riding queries' every timed figure measures a count over
    # warm checkpointed blocks, not the pipeline. The MEDIAN stays the
    # steady-state figure (passes 2..N ride the rebuilt memo), so
    # medians remain comparable with every prior round's floors.
    from anti_money_laundering_spark.plans.llm_queries import clear_shared_memos

    clear_shared_memos()

    samples: dict[str, list[float]] = {n: [] for n in headline}
    cpu_samples: dict[str, list[float]] = {n: [] for n in headline}
    for _ in range(PASSES):
        for name, q in headline.items():
            # Job labels (guide §1.5) make the UI/event-log readable per
            # query; description is driver-side metadata — no effect on
            # the timed work.
            spark.sparkContext.setJobDescription(f"bench: {name}")
            c0 = sum(tree_cpu_by_kind().values())
            t0 = time.perf_counter()
            q.fn(spark, SF_DIR).count()
            samples[name].append(time.perf_counter() - t0)
            cpu_samples[name].append(sum(tree_cpu_by_kind().values()) - c0)
    spark.sparkContext.setJobDescription(None)
    calib_end = calibrate(spark, cores)

    timings = {n: round(statistics.median(s), 3) for n, s in samples.items()}
    cpu = {n: round(statistics.median(s), 3) for n, s in cpu_samples.items()}
    dispersion = {
        n: {
            "min": round(min(s), 3),
            "max": round(max(s), 3),
            # (max-min)/median: the run's own noise band; a
            # round-over-round delta inside this band is not a result
            "rel_spread": round((max(s) - min(s)) / statistics.median(s), 3),
        }
        for n, s in samples.items()
    }
    total = round(sum(timings.values()), 3)
    cold_first = {n: round(s[0], 3) for n, s in samples.items()}
    protocol = {
        "version": 4,
        "warmups": WARMUPS,
        "passes": PASSES,
        "stat": "median",
        "cpu": "process-tree user+sys seconds per timed run",
        # v4 (r14): shared derivation memos are evicted between warmup
        # and the first timed pass; cold_first_pass records that pass.
        "memos_evicted_after_warmup": True,
    }
    # The one-line stdout contract (driver-parsed). r14 (r13 verdict
    # item 2): BENCH_r12's line was lost to tail truncation — the line
    # had grown to several KB of dispersion detail and the driver's
    # tail capture cut its head. The stdout line now carries the
    # parse-critical keys only (metric/value/queries/cpu/sf, ~1.5 KB);
    # the FULL record including the dispersion block is mirrored to
    # BENCH_LAST.json next to this script for any reader that wants
    # the noise-band detail.
    line_record = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": _sf_from_dir(SF_DIR),
        "queries": timings,
        "cpu_s": cpu,
        "total_cpu_s": round(sum(cpu.values()), 3),
        "cold_first_pass": cold_first,
        "protocol": protocol,
        "calib_sec": {"start": round(calib_start, 3), "end": round(calib_end, 3)},
    }
    full_record = dict(line_record, dispersion=dispersion)
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LAST.json")
    try:
        with open(sidecar, "w") as f:
            json.dump(full_record, f, indent=2)
            f.write("\n")
    except OSError:
        pass  # read-only checkout: the stdout line is still the contract
    print(json.dumps(line_record))


if __name__ == "__main__":
    main()
