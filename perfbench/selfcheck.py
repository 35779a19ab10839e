#!/usr/bin/env python3
"""Self-checks of the benchmark's own machinery, on the sf0.001 fixture:

    python3 perfbench/selfcheck.py

- the same seed gives byte-identical inputs (and seed 0 is the fixture);
- span self-time arithmetic;
- the percentile rule, and the memory-peak rule;
- every Spark job is attributed to a span, including a streaming
  query's, and the per-span costs add up to the run's.

Prints one line per check and exits 1 if any fails. Writes only under
``.perfbench_work/selfcheck`` in the current directory.
"""

from __future__ import annotations

import filecmp
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
from meter import RssSampler, percentile  # noqa: E402
from spans import Span, self_times  # noqa: E402


class CheckFailed(Exception):
    pass


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def check_inputs(work: str) -> None:
    import pyarrow.parquet as pq

    a = inputs.generate("0.001", 7, os.path.join(work, "a"))
    b = inputs.generate("0.001", 7, os.path.join(work, "b"))
    c = inputs.generate("0.001", 8, os.path.join(work, "c"))
    z = inputs.generate("0.001", 0, os.path.join(work, "z"))
    src = os.path.join(inputs.FIXTURE, "sf0.001")
    for t in inputs.TABLES:
        f = f"{t}.parquet"
        _expect(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f"seed 7 {f} differs between runs")
        _expect(filecmp.cmp(os.path.join(z, f), os.path.join(src, f), shallow=False), f"seed 0 {f} is not the fixture")
        rows = {pq.read_metadata(os.path.join(d, f)).num_rows for d in (a, c, z)}
        _expect(len(rows) == 1, f"{f}: row counts differ between seeds {rows}")
    _expect(
        not filecmp.cmp(os.path.join(a, "events.parquet"), os.path.join(c, "events.parquet"), shallow=False),
        "seeds 7 and 8 gave the same events",
    )
    ev = pq.read_table(os.path.join(a, "events.parquet")).to_pandas()
    base = pq.read_table(os.path.join(src, "events.parquet")).to_pandas()
    off = inputs.key_offset(7)
    _expect(sorted(ev.user_id) == sorted(base.user_id + off), "user_id not shifted by the seed offset")
    _expect(
        sorted(ev.props) == sorted('{"k": %d}' % (int(p[6:-1]) + off) for p in base.props),
        "props counterparty not shifted with user_id",
    )


def check_self_times() -> None:
    # parent [0, 10] with children [1, 3], [2, 5] (overlapping) and
    # [8, 12] (half outside): covered = [1, 5] + [8, 10] = 6
    spans = [
        Span(0, "p", "bench", 1, None, 0.0, 10.0),
        Span(1, "a", "graph", 1, 0, 1.0, 3.0),
        Span(2, "b", "graph", 1, 0, 2.0, 5.0),
        Span(3, "c", "ml", 1, 0, 8.0, 12.0),
        Span(4, "d", "ml", 1, 3, 9.0, 9.5),  # grandchild: only its parent's
    ]
    got = self_times(spans)
    want = {0: 4.0, 1: 2.0, 2: 3.0, 3: 3.5, 4: 0.5}
    _expect(all(abs(got[k] - v) < 1e-9 for k, v in want.items()), f"self times {got} != {want}")
    _expect(self_times([Span(0, "x", "bench", None, None, 5.0, 5.0)]) == {0: 0.0}, "empty span")


def check_percentiles() -> None:
    vals = list(range(1, 101))
    _expect(percentile(vals, 50) == 50 and percentile(vals, 90) == 90, "nearest rank on 1..100")
    _expect(percentile([3.0], 90) == 3.0, "single sample")
    _expect(percentile([5, 1, 4, 2, 3], 50) == 3, "unsorted input")
    _expect(percentile(list(range(10)), 90) == 8, "p90 of ten samples is the ninth")
    sampler = RssSampler()
    sampler.samples = [1, 10, 1, 2, 3, 2]
    _expect(sampler.peak == 2, "a lone spike must not set the memory peak")
    sampler.samples = [1, 10, 9, 2]
    _expect(sampler.peak == 9, "memory held for two samples sets the peak")
    try:
        percentile([], 50)
    except ValueError:
        return
    raise CheckFailed("percentile of no samples must raise")


def check_attribution(work: str) -> None:
    """A few catalog stages and one streaming query inside spans: every
    job must map to a span, and per-span CPU must sum to the total."""
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = "2"
    os.environ["PYTHONPATH"] = os.pathsep.join([os.path.dirname(HERE), HERE])
    import run

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = run.DRIVER_MEM
    from spans import STAGE_FIELDS, Tracer
    from workloads import write_replay

    from anti_money_laundering_spark.plans.catalog import get_catalog
    from anti_money_laundering_spark.streaming import read_events_stream, velocity_breach_stream

    sf = inputs.generate("0.001", 3, os.path.join(work, "in"))
    replay = os.path.join(work, "replay")
    write_replay(sf, replay)
    spark = run._spark(work)
    try:
        tracer = Tracer(spark.sparkContext)
        cat = get_catalog()
        with tracer.span("pass1", "bench", 1):
            for name, layer in (("velocity_limit_breaches", "features"), ("doc_keywords", "text_ml")):
                with tracer.span(name, layer):
                    cat[name].fn(spark, sf).write.format("noop").mode("overwrite").save()
            with tracer.span("velocity_breach_stream", "streaming") as s:
                q = (
                    velocity_breach_stream(read_events_stream(spark, replay), max_1h=5, max_24h_cents=10**9)
                    .writeStream.format("memory").queryName("selfcheck_velocity").outputMode("update")
                    .option("checkpointLocation", os.path.join(work, "ck"))
                    .trigger(availableNow=True).start()
                )
                tracer.alias(str(q.runId), s)
                q.awaitTermination()
        jobs, stages = tracer.read_store()
        job_span, unattributed, by_time = tracer.attribute(jobs)
        _expect(not unattributed, f"unattributed jobs {unattributed}")
        _expect(by_time == 0, f"{by_time} jobs matched no span's job group or alias")
        _expect(len(job_span) == len(jobs) > 0, "no jobs seen")
        names = {tracer.spans[sid].name for sid in job_span.values()}
        _expect("velocity_breach_stream" in names, "streaming jobs not attributed to their span")
        import layers

        owner = layers._stage_owner(jobs)
        per_span: dict[int, float] = {}
        for sid, st in stages.items():
            per_span[job_span[owner[sid]]] = per_span.get(job_span[owner[sid]], 0) + st["executorCpuTime"]
        total = sum(st["executorCpuTime"] for st in stages.values())
        _expect(sum(per_span.values()) == total, "per-span CPU does not sum to the total")
        _expect(set(STAGE_FIELDS) <= set(next(iter(stages.values()))), "stage fields missing")
    finally:
        run._stop(spark)


def main() -> int:
    work = os.path.join(os.getcwd(), ".perfbench_work", "selfcheck")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    bad = 0
    try:
        for name, fn in (
            ("inputs are seed-deterministic", lambda: check_inputs(work)),
            ("span self-time arithmetic", check_self_times),
            ("percentile and peak rules", check_percentiles),
            ("every job attributed to a span", lambda: check_attribution(work)),
        ):
            t0 = time.perf_counter()
            try:
                fn()
                print(f"ok   {name} ({time.perf_counter() - t0:.1f} s)")
            except Exception as e:  # report every check, then fail the run
                bad += 1
                print(f"FAIL {name}: {type(e).__name__}: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
