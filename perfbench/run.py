#!/usr/bin/env python3
"""AML engine benchmark.

    python3 perfbench/run.py --workload aml_batch_stream --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. One Python process
drives the engine on ``local[<cores>]`` as a closed loop with one
client:

1. generate the seed's inputs (``inputs.py``); compute the expected
   outputs with the catalog's DuckDB oracles on a second thread while
   the Spark JVM starts and warms up;
2. run one warm-up pass, keeping what the output checks need, and wait
   for the oracles;
3. run timed passes: at least one (three when traced), and another
   only while it is expected to end within ``--seconds`` of the first; each
   stage materializes its result through the ``noop`` sink;
4. check the warm-up outputs against the oracles, and check that every
   stage spawned the same number of Spark jobs in every timed pass.

Every pass starts by evicting the engine's per-session derivation
memos, so each pass re-derives its inputs; a leaked memo shows as a
stage with fewer jobs and fails the run. A fixed-work Spark job
(``host.calib_s``) is timed at the start and end of every run.

The last line of stdout is one JSON object: ``correct``, ``attempted``
(stage calls plus output checks), ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, read back from Spark's status store per span
(``spans.py``, ``layers.py``), and the spans are written to
``.perfbench_work/traces/``. The line before it is a summary for
humans (per-stage times and job counts, failures).

``--workload all`` runs every workload one after another, each in
its own process, and exits 1 if any output check failed.

Everything the run writes stays under ``.perfbench_work/`` in the
current directory. Exits 2 without a result when the engine package is
not next to the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "anti_money_laundering_spark"

#: driver JVM heap, fixed at start (-Xms = -Xmx) so resident memory
#: does not follow the collector's heap resizing; the engine's default
#: (24g) does not fit a 15 GB host
DRIVER_MEM = "2g"
#: timed passes at least, untraced and traced: a traced run compares
#: stage job counts between its passes, and only its even passes pay
#: the live tracing calls, so most of its per-pass medians are of passes
#: without them
MIN_PASSES = {0: 1, 1: 3}


def _process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _parse(argv):
    ap = argparse.ArgumentParser(description="AML engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> int:
    """Settings the engine reads at import or JVM launch, sized to the
    host. Returns the core count the session runs on."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the engine defaults to 32 shuffle partitions (a 32-core host); one
    # per core keeps every stateful streaming task busy on this one
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the package and the benchmark's modules
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return cores


def _spark(work: str):
    from anti_money_laundering_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            # keep every job and stage of the run for the per-span read
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
        },
    )


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        proc.wait(timeout=60)


def _evict_memos() -> None:
    from anti_money_laundering_spark.plans import linkage_queries
    from anti_money_laundering_spark.plans.llm_queries import clear_shared_memos

    clear_shared_memos()
    linkage_queries._EM_SHARED.clear()


def calibrate(spark, cores: int) -> float:
    """Fixed work, pure Spark: hash-sum 50M generated longs. Recorded
    beside the metrics to read host speed; never a gate."""
    t0 = time.perf_counter()
    spark.range(0, 50_000_000, numPartitions=cores).selectExpr("sum(hash(id)) AS h").collect()
    return time.perf_counter() - t0


class Bench:
    """One run of one workload: its inputs, session, spans and results."""

    def __init__(self, args, work: str, cores: int) -> None:
        import inputs
        from workloads import WORKLOADS, write_replay

        from anti_money_laundering_spark.plans.catalog import get_catalog

        self.args, self.work, self.cores = args, work, cores
        self.wl = WORKLOADS[args.workload]
        self.sf_dir = inputs.generate(self.wl.sf, args.seed, os.path.join(work, "inputs"))
        if self.wl.streams:
            self.replay_dir = os.path.join(work, "replay")
            self.replay_bytes = write_replay(self.sf_dir, self.replay_dir)
        self.catalog = get_catalog()
        self.wants: dict = {}
        self.failures: list[str] = []
        self.attempted = self.failed = 0
        # joined after the warm-up pass (``_run``)
        self.oracles = threading.Thread(target=self._oracles, name="oracles")
        self.oracles.start()
        from spans import Tracer

        self.spark = _spark(work)
        self.tracer = Tracer(self.spark.sparkContext)
        self.lifecycle = self.manifest = None
        self.passes: list[dict] = []  # per timed pass
        self.stage_spans: dict[str, list] = {s.name: [] for s in self.wl.stages}

    def _oracles(self) -> None:
        from check import duck_connection
        from inputs import TABLES

        con = duck_connection(self.sf_dir, TABLES)
        try:
            for st in self.wl.stages:
                if st.oracle is not None:
                    try:
                        self.wants[st.name] = st.oracle(con, self.catalog)
                    except Exception as e:  # reported as a failed check
                        self.wants[st.name] = e
        finally:
            con.close()

    def run_pass(self, pass_no: int, collect: bool, drain: bool):
        """One pass over every stage. Returns (wall_s, cpu_by_kind,
        PassStats, payloads by stage, peak_rss_bytes)."""
        from meter import RssSampler, tree_cpu_by_kind
        from workloads import PassStats

        stats = PassStats()
        payloads = {}
        pass_dir = os.path.join(self.work, f"pass{pass_no}")
        os.makedirs(pass_dir, exist_ok=True)
        with self.tracer.span(f"pass{pass_no}", "bench", pass_no), RssSampler() as rss:
            _evict_memos()
            c0 = tree_cpu_by_kind()
            t0 = time.perf_counter()
            for st in self.wl.stages:
                self.attempted += 1
                with self.tracer.span(st.name, st.layer) as span:
                    try:
                        payloads[st.name] = st.run(self, pass_dir, stats, collect)
                    except Exception as e:  # a failed call is counted, and the run goes on
                        self.failed += 1
                        self.failures.append(f"pass {pass_no} {st.name}: {type(e).__name__}: {e}"[:400])
                    if drain:
                        t = time.perf_counter()
                        self.tracer.drain()
                        span.jobs = self.tracer.job_ids(span)
                        stats.trace_s += time.perf_counter() - t
                self.stage_spans[st.name].append(span)
            wall = time.perf_counter() - t0
            c1 = tree_cpu_by_kind()
        cpu = {k: c1[k] - c0[k] for k in c0}
        return wall, cpu, stats, payloads, rss.peak

    def check_outputs(self, payloads) -> None:
        for st in self.wl.stages:
            if st.verify is None:
                continue
            self.attempted += 1
            want = self.wants.get(st.name)
            try:
                if isinstance(want, Exception):
                    raise want
                if st.name not in payloads:
                    raise RuntimeError("the stage failed, nothing to check")
                fails = st.verify(self, want, payloads[st.name])
            except Exception as e:
                fails = [f"{st.name} check: {type(e).__name__}: {e}"[:400]]
            if fails:
                self.failed += 1
                self.failures.extend(fails)

    def check_job_counts(self) -> dict[str, int]:
        """Every stage must spawn the same number of Spark jobs in every
        timed pass. Returns stage -> jobs per pass."""
        self.tracer.drain()
        out = {}
        for name, spans in self.stage_spans.items():
            counts = [len(self.tracer.job_ids(s)) for s in spans if s.pass_no > 0]
            if len(set(counts)) > 1:
                self.failed += 1
                self.failures.append(f"{name}: job count differs between passes {counts}")
            out[name] = counts[-1]
        return out


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload == "all":
        return _run_all(args, list(WORKLOADS))
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)} or all", file=sys.stderr)
        return 2
    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    cores = _environment(work)
    try:
        return _run(args, work, base, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run_all(args, names: list[str]) -> int:
    """Run every workload in its own process (one JVM each) and print
    their results, then one line joining them: metrics are keyed
    ``<workload>.<metric>``."""
    import subprocess

    joined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, capture_output=True, text=True, check=False).stdout.strip().splitlines()
        if not out:
            joined["correct"] = False
            continue
        print(*out[-2:], sep="\n", flush=True)
        res = json.loads(out[-1])
        joined["correct"] &= res["correct"]
        joined["attempted"] += res["attempted"]
        joined["failed"] += res["failed"]
        joined["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(joined), flush=True)
    return 0 if joined["correct"] else 1


def _run(args, work: str, base: str, cores: int) -> int:
    import layers

    bench = Bench(args, work, cores)
    spark, tracer = bench.spark, bench.tracer
    with tracer.span("calib_start", "bench"):
        calibrate(spark, cores)  # compiles the calibration plan
        calib = [calibrate(spark, cores)]
    _w, _c, _s, payloads, _r = bench.run_pass(0, collect=True, drain=False)
    bench.oracles.join()
    setup_s = _process_age_s()

    t0 = time.perf_counter()
    pass_no = 0
    while True:
        pass_no += 1
        # a traced run's even passes drain the listener bus at every
        # span end (the live-tracing cost); odd passes do not
        drain = bool(args.trace) and pass_no % 2 == 0
        wall, cpu, stats, _p, rss = bench.run_pass(pass_no, collect=False, drain=drain)
        bench.passes.append({"wall": wall, "cpu": cpu, "stats": stats, "rss": rss, "drain": drain, "no": pass_no})
        if pass_no >= MIN_PASSES[args.trace] and time.perf_counter() - t0 + wall > args.seconds:
            break

    with tracer.span("calib_end", "bench"):
        calib.append(calibrate(spark, cores))
    with tracer.span("check", "bench"):
        bench.check_outputs(payloads)
    jobs_per_stage = bench.check_job_counts()

    pass_s = statistics.median(p["wall"] for p in bench.passes)
    summary = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "pass_walls": [round(p["wall"], 3) for p in bench.passes], "setup_s": round(setup_s, 3),
        "calib_s": [round(c, 4) for c in calib], "jobs_per_stage": jobs_per_stage,
        "stage_s": {
            n: round(statistics.median(s.end - s.start for s in spans if s.pass_no > 0), 3)
            for n, spans in bench.stage_spans.items()
        },
        "failures": bench.failures[:20],
    }
    if args.trace:
        with tracer.span("yields", "bench"):
            yields = layers.yields(bench)
        metrics, detail = layers.per_layer(bench, calib, yields)
        summary.update(detail)
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.dump(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl"), bench.span_cost)
    else:
        pooled = layers.batch_latencies(bench)
        metrics = layers.end_to_end(bench, setup_s, pass_s, pooled)
        summary.update(
            batch_samples=len(pooled),
            commit_samples=sum(len(p["stats"].commit_s) for p in bench.passes),
        )
    _stop(spark)
    print(json.dumps(summary), flush=True)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
