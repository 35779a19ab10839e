"""Metric assembly: the end-to-end metrics of an untraced run and the
per-layer metrics of a traced run.

Per-pass figures are computed for every timed pass and reported as the
median over passes. A layer is one of the engine's modules; a stage's
span carries its layer tag, and everything Spark did for the stage's
jobs is booked to that layer.
"""

from __future__ import annotations

import statistics

from meter import KINDS, percentile
from spans import STAGE_FIELDS, self_times

LAYERS = (
    "sources", "operators", "features", "sketch", "ml", "graph",
    "linkage", "dedup", "text_ml", "vector", "curation", "streaming",
)
LAYER_METRICS = ("self_s", "jobs", "tasks", "exec_cpu_s", "shuffle_mb", "spill_mb")
MB = 1024 * 1024


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def batch_latencies(bench) -> list[float]:
    """Latencies of every unit of submitted work in the timed passes: a
    micro-batch trigger where the workload streams, else a Spark job,
    from submission to completion as the status store records them (a
    pass has about 80 jobs but only about 12 stage calls, too few for a
    steady median)."""
    if bench.wl.streams:
        return [b for p in bench.passes for b in p["stats"].batch_s]
    jobs, _stages = bench.tracer.read_store()
    job_span, _unattributed, _by_time = bench.tracer.attribute(jobs)
    timed = {s.id for s in bench.tracer.spans if s.pass_no}
    return [
        (j["completionTime"] - j["submissionTime"]) / 1000.0
        for j in jobs
        if job_span.get(j["jobId"]) in timed
    ]


def end_to_end(bench, setup_s: float, pass_s: float, pooled: list[float]) -> dict:
    """``batch_p50_s`` is the median of ``pooled``, the
    ``batch_latencies``; ``commit_p50_s`` the median of the sampled commits
    (``PassStats.commit_s``); ``write_amp`` counts the data files of
    every versioned-table commit of the pass over the bytes of the input
    files they were written from; ``peak_rss_mb`` counts shared pages
    once (``meter.tree_rss_bytes``)."""
    passes = bench.passes
    commits = [c for p in passes for c in p["stats"].commit_s]
    values = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "cpu_s": (_med(sum(p["cpu"].values()) for p in passes), "s"),
        "peak_rss_mb": (max(p["rss"] for p in passes) / MB, "MB"),
        "batch_p50_s": (percentile(pooled, 50), "s"),
        "commit_p50_s": (percentile(commits, 50), "s"),
        "write_amp": (_med(p["stats"].bytes_written / p["stats"].input_bytes for p in passes), "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def yields(bench) -> dict[str, float]:
    """Traced-only counts of the engine's intermediate outputs, read
    from the last pass's memos: verified near-duplicate pairs over LSH
    candidates, and matched over blocked record pairs."""
    from anti_money_laundering_spark.plans import linkage_queries, llm_queries

    out = {"dedup.candidate_yield": 0.0, "linkage.pair_yield": 0.0}
    key = (bench.spark.sparkContext.applicationId, bench.sf_dir)
    if key in llm_queries._LSH_SHARED and key in llm_queries._PAIRS_SHARED:
        cands = llm_queries._LSH_SHARED[key][1].count()
        pairs = llm_queries._PAIRS_SHARED[key].count()
        out["dedup.candidate_yield"] = pairs / cands if cands else 0.0
    if key in linkage_queries._EM_SHARED:
        from pyspark.sql import functions as F

        from anti_money_laundering_spark.linkage import score_pairs

        gammas, params = linkage_queries._EM_SHARED[key]
        blocked = gammas.count()
        matched = (
            score_pairs(gammas, linkage_queries._comparisons(), params)
            .filter(F.col("match_probability") >= linkage_queries._CLUSTER_THRESHOLD)
            .count()
        )
        out["linkage.pair_yield"] = matched / blocked if blocked else 0.0
    return out


def _stage_owner(jobs: list[dict]) -> dict[int, int]:
    """stage id -> the first job that lists it (a later job that reuses
    a shuffle lists the stage as skipped and did not run it)."""
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
    return owner


def per_layer(bench, calib: list[float], counts: dict) -> tuple[dict, dict]:
    tracer = bench.tracer
    jobs, stages = tracer.read_store()
    job_span, unattributed, by_time = tracer.attribute(jobs)
    owner = _stage_owner(jobs)
    spans = {s.id: s for s in tracer.spans}
    selfs = self_times(tracer.spans)

    def cost(job_ids) -> dict:
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        n_stages = 0
        for sid, st in stages.items():
            if owner.get(sid) in job_ids:
                n_stages += 1
                for k in STAGE_FIELDS:
                    tot[k] += st[k]
        tot["stages"] = n_stages
        return tot

    per_pass = []
    for p in bench.passes:
        pass_jobs = {j for j, sid in job_span.items() if spans[sid].pass_no == p["no"]}
        row = {}
        for layer in LAYERS:
            ids = [s.id for s in tracer.spans if s.pass_no == p["no"] and s.layer == layer]
            ljobs = {j for j, sid in job_span.items() if sid in ids}
            c = cost(ljobs)
            row.update({
                f"{layer}.self_s": sum(selfs[i] for i in ids),
                f"{layer}.jobs": len(ljobs),
                f"{layer}.tasks": c["numTasks"],
                f"{layer}.exec_cpu_s": c["executorCpuTime"] / 1e9,
                f"{layer}.shuffle_mb": c["shuffleWriteBytes"] / MB,
                f"{layer}.spill_mb": c["diskBytesSpilled"] / MB,
            })
        c = cost(pass_jobs)
        st = p["stats"]
        row.update({
            "streaming.state_rows": st.state_rows,
            "streaming.batches": len(st.batch_s),
            "sources.commits": st.commits,
            "sources.bytes_written_mb": st.bytes_written / MB,
            "spark.jobs": len(pass_jobs),
            "spark.stages": c["stages"],
            "spark.tasks": c["numTasks"],
            "spark.exec_run_s": c["executorRunTime"] / 1e3,
            "spark.exec_cpu_s": c["executorCpuTime"] / 1e9,
            "spark.shuffle_mb": c["shuffleWriteBytes"] / MB,
            "spark.spill_mb": c["diskBytesSpilled"] / MB,
            "spark.failed_tasks": c["numFailedTasks"],
            "spark.idle_core_s": p["wall"] * bench.cores - c["executorRunTime"] / 1e3,
            **{f"proc.{k}_cpu_s": p["cpu"][k] for k in KINDS},
        })
        per_pass.append(row)

    by_span: dict[int, set[int]] = {}
    for j, sid in job_span.items():
        by_span.setdefault(sid, set()).add(j)
    bench.span_cost = {sid: {"jobs": len(js), **cost(js)} for sid, js in by_span.items()}

    metrics = {k: _med(r[k] for r in per_pass) for k in per_pass[0]}
    metrics.update(counts)
    metrics["host.calib_s"] = _med(calib)
    # the live cost of tracing: a pass that drains the listener bus and
    # lists its jobs at every span end, over the same pass less the time
    # those calls took (untraced runs set the same job groups)
    metrics["trace.overhead_ratio"] = _med(
        p["wall"] / (p["wall"] - p["stats"].trace_s) for p in bench.passes if p["drain"]
    )

    layer_cpu = [sum(r[f"{layer}.exec_cpu_s"] for layer in LAYERS) for r in per_pass]
    detail = {
        "jobs_total": len(jobs),
        "jobs_unattributed": unattributed,
        "jobs_attributed_by_time": by_time,
        # summed layer CPU against the pass's whole Spark CPU, per pass
        "layer_cpu_vs_spark_cpu": [
            (round(a, 6), round(r["spark.exec_cpu_s"], 6)) for a, r in zip(layer_cpu, per_pass)
        ],
        # counts that should repeat exactly across passes but did not
        "counts_differing": sorted(
            k for k in per_pass[0]
            if k.endswith((".jobs", ".stages", ".tasks", "shuffle_mb", "bytes_written_mb"))
            and len({r[k] for r in per_pass}) > 1
        ),
    }
    return {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()}, detail


def _unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[-1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    if suffix.endswith(("_yield", "_ratio")):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    names = [f"{layer}.{m}" for layer in LAYERS for m in LAYER_METRICS]
    names += [
        "streaming.state_rows", "streaming.batches", "sources.commits", "sources.bytes_written_mb",
        "dedup.candidate_yield", "linkage.pair_yield",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.exec_run_s", "spark.exec_cpu_s",
        "spark.shuffle_mb", "spark.spill_mb", "spark.failed_tasks", "spark.idle_core_s",
        *(f"proc.{k}_cpu_s" for k in KINDS),
        "host.calib_s", "trace.overhead_ratio",
    ]
    return names
