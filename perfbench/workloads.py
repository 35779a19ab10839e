"""The two workloads. Each is an ordered list of stages; a stage is
one call into a public engine function, tagged with the module (layer)
that does its work.

- ``aml_batch_stream``: the nightly AML screen, then its streaming
  twins and the lakehouse writes. Driver-bound: the batch screens are
  iterative loops of small Spark jobs (graph, linkage) plus columnar
  screens; the events are then replayed as time-ordered micro-batches
  through two streaming screens and the exactly-once versioned-table
  sink, where per-batch overhead dominates, and one versioned-table
  lifecycle runs on ``orders``. The only workload that exercises
  ``streaming``.
- ``llm_curation``: the training-data pipeline. Shuffle-heavy, CPU in
  Python/Arrow workers; stages share derivations within a pass through
  the engine's per-session memos, which every pass evicts first.

``commit_p50_s`` is taken from the commits a workload makes anyway:
the stream sink's per-batch appends on ``aml_batch_stream``, and on
``llm_curation`` the writes of the pipeline's product, the training
manifest, one versioned table per split.

Every run pays 30-50 s of JVM start and warm-up whatever it
measures, so the batch screens and the streaming stages, both
driver-bound, share one workload instead of paying it twice.

A stage runs in one of two modes: ``collect=True`` (the warm-up pass)
returns what the output check needs; ``collect=False`` (timed passes)
materializes the result through the ``noop`` sink, so every column is
computed and nothing is shipped to the driver (the training manifest
is held in memory instead, for the write that follows it).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from check import fingerprint, oracle_fingerprint


@dataclass
class PassStats:
    """What one pass of a workload measured besides its wall time."""

    batch_s: list[float] = field(default_factory=list)
    #: latencies of the appends ``commit_p50_s`` is taken from (one kind
    #: of commit, so the median does not jump between kinds)
    commit_s: list[float] = field(default_factory=list)
    #: every versioned-table commit
    commits: int = 0
    state_rows: int = 0
    #: time spent in live tracing calls (traced runs' even passes)
    trace_s: float = 0.0
    bytes_written: int = 0
    input_bytes: int = 0


@dataclass
class Stage:
    """``run(ctx, pass_dir, stats, collect)`` calls the engine and, when
    collecting, returns what ``verify(ctx, want, got)`` compares with
    ``oracle(con, catalog)``, the expected result computed by DuckDB
    from the same input files (before Spark starts)."""

    name: str
    layer: str
    run: Callable
    oracle: Callable | None = None
    verify: Callable | None = None


def _same(label: str, want, got) -> list[str]:
    """Fingerprints must agree, and a check on an empty result proves
    nothing."""
    if got != want:
        return [f"{label}: {got[0]} rows {got[1][:12]} != oracle {want[0]} rows {want[1][:12]}"]
    return [] if want[0] else [f"{label}: empty result"]


def _table_fingerprint(ctx, path: str):
    from anti_money_laundering_spark.sources.versioned import VersionedTable

    return fingerprint(VersionedTable(path).read(ctx.spark).toPandas())


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- catalog stages ------------------------------------------------------


def catalog_stage(name: str, layer: str) -> Stage:
    def run(ctx, pass_dir, stats, collect):
        df = ctx.catalog[name].fn(ctx.spark, ctx.sf_dir)
        if collect:
            return fingerprint(df.toPandas())
        _noop(df)
        return None

    return Stage(
        name, layer, run,
        oracle=lambda con, catalog: oracle_fingerprint(con, catalog[name].oracle),
        verify=lambda ctx, want, got: _same(name, want, got),
    )


def _manifest_stages() -> list[Stage]:
    """The curation pipeline's product, ``corpus_training_manifest``,
    computed and held in memory (curation), then published as one
    versioned table per training split, one commit each (sources), so
    the writes do no curation work."""
    name = "corpus_training_manifest"

    def build(ctx, pass_dir, stats, collect):
        ctx.manifest = ctx.catalog[name].fn(ctx.spark, ctx.sf_dir).localCheckpoint()
        return fingerprint(ctx.manifest.toPandas()) if collect else None

    def write(ctx, pass_dir, stats, collect):
        from pyspark.sql import functions as F

        from anti_money_laundering_spark.plans.llm_queries import _SPLIT_WEIGHTS
        from anti_money_laundering_spark.sources.versioned import VersionedTable

        stats.input_bytes += os.path.getsize(os.path.join(ctx.sf_dir, "documents.parquet"))
        paths = []
        for split in sorted(_SPLIT_WEIGHTS):
            path = os.path.join(pass_dir, "training_manifest", split)
            rows = ctx.manifest.filter(F.col("split") == split)
            _commit(stats, _Written(path, stats), lambda: VersionedTable(path).write(rows), sample=True)
            paths.append(path)
        return paths

    def written_verify(ctx, _want, paths):
        """The split tables together must hold what the build stage's
        oracle expects."""
        import pandas as pd

        from anti_money_laundering_spark.sources.versioned import VersionedTable

        want = ctx.wants[name]
        if isinstance(want, Exception):
            raise want
        got = pd.concat([VersionedTable(p).read(ctx.spark).toPandas() for p in paths])
        return _same("write_training_manifest", want, fingerprint(got))

    return [
        Stage(
            name, "curation", build,
            lambda con, catalog: oracle_fingerprint(con, catalog[name].oracle),
            lambda ctx, want, got: _same(name, want, got),
        ),
        Stage("write_training_manifest", "sources", write, verify=written_verify),
    ]


#: funds_tracing_alerts (graph) and passthrough_funds_alerts (operators)
#: are left out to keep a run short; both layers have other stages here
AML_BATCH = [
    catalog_stage("aml_alert_feed", "graph"),
    catalog_stage("linkage_entity_clusters", "linkage"),
    catalog_stage("copurchase_graph_edges", "operators"),
    catalog_stage("corridor_concentration_alerts", "features"),
    catalog_stage("coordinated_sliding_windows", "features"),
    catalog_stage("velocity_limit_breaches", "features"),
    catalog_stage("structuring_aggregation_alerts", "features"),
    catalog_stage("kmeans_lloyd_assignments", "ml"),
    catalog_stage("asof_join_last_purchase", "operators"),
    catalog_stage("approx_distinct_parts", "sketch"),
]

LLM_CURATION = [
    # derives the LSH candidates and verified pairs the manifest reuses
    catalog_stage("dedup_minhash_near_dups", "dedup"),
    *_manifest_stages(),
    catalog_stage("tfidf_similar_pairs", "text_ml"),
    catalog_stage("bm25_doc_scores", "text_ml"),
    catalog_stage("doc_keywords", "text_ml"),
    catalog_stage("ann_lsh_topk", "vector"),
    catalog_stage("ann_cosine_topk", "vector"),
    catalog_stage("decontam_ngram_overlap", "curation"),
    catalog_stage("quality_rule_screen", "curation"),
    catalog_stage("shard_manifest_docs", "curation"),
    # multimodal work is counted under the ml tag
    catalog_stage("multimodal_classify", "ml"),
]


# -- streaming and lakehouse stages ---------------------------------------

#: the events are split into this many time-ordered files; the sink
#: takes one file per trigger (the reader's default), so a pass yields
#: six commit latencies for ``commit_p50_s``
REPLAY_FILES = 6
#: the two screens take two files per trigger: three micro-batches,
#: which keeps their per-trigger state work, and the pass, short
SCREEN_FILES_PER_TRIGGER = 2


def write_replay(sf_dir: str, out_dir: str) -> int:
    """Split the events into ``REPLAY_FILES`` time-ordered parquet files in
    the raw replay layout (``ts`` as int64 nanoseconds), with strictly
    ascending modification times so the file source replays them in
    order. Returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ev = ev.take(pc.sort_indices(ev, [("ts", "ascending"), ("event_id", "ascending")]))
    ns = pc.multiply(ev.column("ts").cast(pa.int64()), pa.scalar(1000, pa.int64()))
    ev = ev.set_column(ev.schema.get_field_index("ts"), pa.field("ts", pa.int64()), ns)
    chunk = -(-ev.num_rows // REPLAY_FILES)
    total = 0
    for i in range(REPLAY_FILES):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(ev.slice(i * chunk, chunk), path, compression="snappy")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        total += os.path.getsize(path)
    return total


def _run_stream(ctx, df, pass_dir, name, stats, output_mode=None, sink=None):
    """Drain the replay through one streaming query (availableNow) and
    record each micro-batch's trigger latency and the final state size
    from the query's progress events."""
    w = df.writeStream.option("checkpointLocation", os.path.join(pass_dir, name, "ck"))
    w = w.trigger(availableNow=True)
    if sink is not None:
        w = w.foreachBatch(sink)
    else:
        w = w.format("memory").queryName(f"{name}_{os.path.basename(pass_dir)}")
        w = w.outputMode(output_mode)
    q = w.start()
    ctx.tracer.alias(str(q.runId), ctx.tracer.current)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"{name} failed: {q.exception()}")
    progress = q.recentProgress
    stats.batch_s.extend(p.durationMs["triggerExecution"] / 1000.0 for p in progress)
    if progress:
        stats.state_rows += sum(o.numRowsTotal for o in progress[-1].stateOperators)
    return f"{name}_{os.path.basename(pass_dir)}"


def _events_stream(ctx, files_per_trigger: int = 1):
    from anti_money_laundering_spark.streaming import read_events_stream

    return read_events_stream(ctx.spark, ctx.replay_dir, max_files_per_trigger=files_per_trigger)


def _velocity(ctx, pass_dir, stats, collect):
    from anti_money_laundering_spark.plans.feature_queries import (
        _VELOCITY_MAX_1H,
        _VELOCITY_MAX_24H_CENTS,
    )
    from anti_money_laundering_spark.streaming import velocity_breach_stream

    df = velocity_breach_stream(
        _events_stream(ctx, SCREEN_FILES_PER_TRIGGER), max_1h=_VELOCITY_MAX_1H, max_24h_cents=_VELOCITY_MAX_24H_CENTS
    )
    return _run_stream(ctx, df, pass_dir, "velocity", stats, output_mode="update")


def _velocity_verify(ctx, want, table):
    return _same("velocity_breach_stream", want, fingerprint(ctx.spark.table(table).toPandas()))


def _coordinated(ctx, pass_dir, stats, collect):
    from anti_money_laundering_spark.plans.feature_queries import _COORD_MIN_SENDERS
    from anti_money_laundering_spark.streaming import coordinated_amounts_stream

    df = coordinated_amounts_stream(_events_stream(ctx, SCREEN_FILES_PER_TRIGGER), min_senders=_COORD_MIN_SENDERS)
    return _run_stream(ctx, df, pass_dir, "coordinated", stats, output_mode="append")


def _coordinated_oracle(con, catalog):
    """Append mode emits a day's cell once the watermark (max ts - 25 h)
    passes the day's end, so only days ending at least a second before
    the watermark are compared."""
    cut = con.execute(
        "SELECT strftime(max(ts) - INTERVAL 25 HOUR - INTERVAL 1 SECOND - INTERVAL 1 DAY, '%Y-%m-%d') "
        "FROM events"
    ).fetchone()[0]
    sql = catalog["stream_coordinated_amounts"].oracle
    return cut, oracle_fingerprint(con, f"SELECT * FROM ({sql}) WHERE day <= '{cut}'")


def _coordinated_verify(ctx, want, table):
    """Nothing past the cut may have been emitted except cells of the
    one boundary day."""
    cut, rows = want
    got = ctx.spark.table(table).toPandas()
    fails = _same("coordinated_amounts_stream", rows, fingerprint(got[got["day"] <= cut]))
    if got[got["day"] > cut]["day"].nunique() > 1:
        fails.append("coordinated_amounts_stream: emitted cells past the watermark")
    return fails


def _table_bytes(path: str) -> dict[str, int]:
    """Data files of a versioned table, by path (manifests carry commit
    timestamps, so only data bytes repeat exactly)."""
    out = {}
    for root, _dirs, files in os.walk(os.path.join(path, "data")):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


class _Written:
    """Tracks every data file a table ever held during a pass, so bytes
    written count files a later commit or vacuum removed."""

    def __init__(self, path: str, stats: PassStats) -> None:
        self.path, self.stats, self.seen = path, stats, {}

    def observe(self) -> None:
        for p, n in _table_bytes(self.path).items():
            if p not in self.seen:
                self.seen[p] = n
                self.stats.bytes_written += n


def _commit(stats: PassStats, written: _Written, fn, sample: bool = False):
    """Run one commit; ``sample`` records its latency for
    ``commit_p50_s``."""
    import time

    t0 = time.perf_counter()
    out = fn()
    if sample:
        stats.commit_s.append(time.perf_counter() - t0)
    stats.commits += 1
    written.observe()
    return out


def _stream_sink(ctx, pass_dir, stats, collect):
    from anti_money_laundering_spark.sources.versioned import VersionedTable

    path = os.path.join(pass_dir, "events_table")
    table = VersionedTable(path)
    sink = table.stream_sink(app_id="perfbench")
    written = _Written(path, stats)

    def timed_sink(batch_df, batch_id):
        _commit(stats, written, lambda: sink(batch_df, batch_id), sample=True)

    stats.input_bytes += ctx.replay_bytes
    _run_stream(ctx, _events_stream(ctx), pass_dir, "sink", stats, sink=timed_sink)
    return path


#: lifecycle edit: orders whose key is a multiple of 10 get a new
#: status, multiples of 7 are re-inserted under a disjoint key range
_INSERT_SHIFT = 100_000_000
_MERGE_SQL = f"""
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
           o_totalprice, o_orderdate, o_orderpriority
    FROM orders
    UNION ALL
    SELECT o_orderkey + {_INSERT_SHIFT}, o_custkey, 'N', o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 7 = 0
"""


def _vt_stages() -> list[Stage]:
    """write -> merge -> diff -> compact -> time-travel read -> vacuum
    on ``orders``; each step is its own stage, sharing one table per
    pass through ``ctx.lifecycle``."""
    from pyspark.sql import functions as F

    def write(ctx, pass_dir, stats, collect):
        from anti_money_laundering_spark.sources import load_table
        from anti_money_laundering_spark.sources.versioned import VersionedTable

        path = os.path.join(pass_dir, "orders_table")
        ctx.lifecycle = (path, VersionedTable(path), _Written(path, stats), {})
        stats.input_bytes += os.path.getsize(os.path.join(ctx.sf_dir, "orders.parquet"))
        orders = load_table(ctx.spark, ctx.sf_dir, "orders")
        _, t, written, versions = ctx.lifecycle
        versions["v1"] = _commit(stats, written, lambda: t.write(orders, stats_cols=["o_orderkey"]))

    def merge(ctx, pass_dir, stats, collect):
        from anti_money_laundering_spark.sources import load_table

        _, t, written, versions = ctx.lifecycle
        orders = load_table(ctx.spark, ctx.sf_dir, "orders")
        updates = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn("o_orderstatus", F.lit("U"))
        inserts = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + _INSERT_SHIFT
        ).withColumn("o_orderstatus", F.lit("N"))
        src = updates.unionByName(inserts)
        versions["v2"] = _commit(
            stats, written, lambda: t.merge(ctx.spark, src, on=["o_orderkey"])
        )

    def diff(ctx, pass_dir, stats, collect):
        _, t, _, versions = ctx.lifecycle
        d = t.diff(ctx.spark, versions["v1"], versions["v2"], on=["o_orderkey"])
        if collect:
            return d.groupBy("op").count().toPandas().set_index("op")["count"].to_dict()
        _noop(d)

    def compact(ctx, pass_dir, stats, collect):
        _, t, written, versions = ctx.lifecycle
        versions["v3"] = _commit(stats, written, lambda: t.compact(ctx.spark, target_files=1))

    def time_travel(ctx, pass_dir, stats, collect):
        _, t, _, versions = ctx.lifecycle
        df = t.read(ctx.spark, version=versions["v1"])
        if collect:
            return fingerprint(df.toPandas()), fingerprint(t.read(ctx.spark).toPandas())
        _noop(df)

    def vacuum(ctx, pass_dir, stats, collect):
        _, t, _, _ = ctx.lifecycle
        t.vacuum(retain=1, orphan_grace_s=0.0)

    def diff_oracle(con, catalog):
        u, i = con.execute(
            "SELECT (SELECT count(*) FROM orders WHERE o_orderkey % 10 = 0 AND o_orderstatus <> 'U'), "
            "(SELECT count(*) FROM orders WHERE o_orderkey % 7 = 0)"
        ).fetchone()
        return {"U": u, "I": i}

    def diff_verify(ctx, want, got):
        return [] if got == want else [f"vt_diff: ops {got} != {want}"]

    def travel_oracle(con, catalog):
        return oracle_fingerprint(con, "SELECT * FROM orders"), oracle_fingerprint(con, _MERGE_SQL)

    def travel_verify(ctx, want, got):
        return _same("vt_time_travel v1", want[0], got[0]) + _same("vt_compact head", want[1], got[1])

    return [
        Stage("vt_write", "sources", write),
        Stage("vt_merge", "sources", merge),
        Stage("vt_diff", "sources", diff, diff_oracle, diff_verify),
        Stage("vt_compact", "sources", compact),
        Stage("vt_time_travel", "sources", time_travel, travel_oracle, travel_verify),
        Stage("vt_vacuum", "sources", vacuum),
    ]


STREAM_LAKEHOUSE = [
    Stage(
        "velocity_breach_stream", "streaming", _velocity,
        lambda con, catalog: oracle_fingerprint(con, catalog["stream_velocity_breaches"].oracle),
        _velocity_verify,
    ),
    Stage("coordinated_amounts_stream", "streaming", _coordinated, _coordinated_oracle, _coordinated_verify),
    Stage(
        "stream_sink", "sources", _stream_sink,
        lambda con, catalog: oracle_fingerprint(con, "SELECT * FROM events"),
        lambda ctx, want, path: _same("stream_sink", want, _table_fingerprint(ctx, path)),
    ),
    *_vt_stages(),
]


@dataclass
class Workload:
    name: str
    sf: str
    stages: list[Stage]
    streams: bool = False


WORKLOADS = {
    "aml_batch_stream": Workload("aml_batch_stream", "0.01", AML_BATCH + STREAM_LAKEHOUSE, streams=True),
    "llm_curation": Workload("llm_curation", "0.01", LLM_CURATION),
}
