"""Versioned-table (native transaction log) tests: atomic commits,
snapshot isolation, time travel, schema rules, merge, concurrency
conflict, and vacuum safety."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from anti_money_laundering_spark.sources.versioned import CommitConflict, VersionedTable


def _df(spark, rows, schema="k int, v string"):
    return spark.createDataFrame(rows, schema)


def _tbl():
    return VersionedTable(os.path.join(tempfile.mkdtemp(prefix="vtbl_"), "t"))


def test_append_overwrite_time_travel_history(spark):
    t = _tbl()
    v1 = t.write(_df(spark, [(1, "a")]))
    v2 = t.write(_df(spark, [(2, "b")]))  # append
    assert (v1, v2) == (1, 2)
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2]
    # time travel: v1 still reads exactly its snapshot
    assert [r.k for r in t.read(spark, version=1).collect()] == [1]
    # overwrite replaces content (and may change schema)
    v3 = t.write(_df(spark, [(9, 1.5)], "k int, score double"), mode="overwrite")
    got = t.read(spark).collect()
    assert len(got) == 1 and got[0].score == 1.5
    # history face
    hist = {r.version: r.operation for r in t.history(spark).collect()}
    assert hist == {1: "append", 2: "append", 3: "overwrite"}
    # timestamp travel: as-of v2's commit time sees v2
    ts2 = [r.timestamp for r in t.history(spark).collect() if r.version == 2][0]
    assert sorted(r.k for r in t.read(spark, as_of_ts=ts2).collect()) == [1, 2]
    assert v3 == 3


def test_append_schema_mismatch_refused(spark):
    t = _tbl()
    t.write(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="append schema mismatch"):
        t.write(_df(spark, [(1.0, "a")], "k double, v string"))
    # nullability difference must NOT refuse: same names+types
    nn = _df(spark, [(2, "b")]).withColumn("k", F.col("k") + 0)
    t.write(nn.select("k", "v"))
    assert t.latest_version() == 2


def test_commit_conflict_surfaces_and_loser_can_retry(spark, monkeypatch):
    """Optimistic concurrency: a writer whose view of the log went
    stale (another writer committed the version it targets) must get
    CommitConflict from the exclusive-create — not silently overwrite
    — and a plain retry against the fresh log succeeds."""
    t = _tbl()
    t.write(_df(spark, [(1, "a")]))
    # racing writer commits version 2 first
    VersionedTable(t.path).write(_df(spark, [(2, "b")]))
    # our writer still believes the head is version 1 → targets v2
    monkeypatch.setattr(t, "latest_version", lambda: 1)
    with pytest.raises(CommitConflict):
        t.write(_df(spark, [(3, "c")]), mode="overwrite")
    monkeypatch.undo()
    # retry with a fresh read of the log: commits as version 3
    v = t.write(_df(spark, [(3, "c")]), mode="overwrite")
    assert v == 3
    assert [r.k for r in t.read(spark).collect()] == [3]


def test_snapshot_isolation_under_concurrent_write(spark):
    t = _tbl()
    t.write(_df(spark, [(1, "a")]))
    snap = t.read(spark)  # pinned to v1's manifest
    t.write(_df(spark, [(2, "b")]))
    # the pinned snapshot still returns v1 rows even after v2 commits
    assert [r.k for r in snap.collect()] == [1]


def test_merge_creates_version_with_merge_semantics(spark):
    t = _tbl()
    t.write(_df(spark, [(1, "a"), (2, "b")]))
    src = _df(spark, [(2, "B"), (3, "c")])
    v = t.merge(spark, src, on=["k"])
    assert v == 2
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}  # update matched, insert new
    assert {r.version: r.operation for r in t.history(spark).collect()}[2] == "merge"


def test_vacuum_drops_only_unreferenced_files(spark):
    t = _tbl()
    t.write(_df(spark, [(1, "a")]))
    t.write(_df(spark, [(2, "b")]))
    t.write(_df(spark, [(3, "c")]), mode="overwrite")
    # plant an orphan (crashed writer)
    orphan = os.path.join(t.path, "data", "part-orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"junk")
    # grace window ON: the fresh orphan (an in-flight writer's shape)
    # must survive this vacuum
    assert "part-orphan.parquet" not in t.vacuum(retain=3)
    # grace 0 (caller asserts no live writers): orphan reclaimed
    deleted = t.vacuum(retain=1, orphan_grace_s=0)
    assert "part-orphan.parquet" in deleted
    assert t.versions() == [3]
    # retained snapshot fully readable after vacuum
    assert [r.k for r in t.read(spark).collect()] == [3]
    with pytest.raises(FileNotFoundError):
        t._load(1)


def test_empty_overwrite_preserves_schema(spark):
    t = _tbl()
    t.write(_df(spark, [(1, "a")]))
    empty = _df(spark, [], "k int, v string").filter(F.lit(False))
    t.write(empty, mode="overwrite")
    got = t.read(spark)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["k", "v"]


def test_diff_between_versions_is_cdc_feed(spark):
    t = _tbl()
    t.write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.write(_df(spark, [(1, "a"), (2, "B"), (4, "d")]), mode="overwrite")
    feed = {r.k: r.op for r in t.diff(spark, 1, 2, on=["k"]).collect()}
    assert feed == {2: "U", 3: "D", 4: "I"}  # unchanged key 1 absent


def test_stats_pruning_skips_disjoint_files(spark):
    """Manifest-level data skipping: two appends with disjoint key
    ranges record per-file [min,max]; a pruned read must plan ONLY the
    intersecting file(s) (observable via inputFiles) and return
    exactly the same rows as the unpruned filter."""
    t = _tbl()
    lo = _df(spark, [(i, f"v{i}") for i in range(0, 10)]).coalesce(1)
    hi = _df(spark, [(i, f"v{i}") for i in range(100, 110)]).coalesce(1)
    t.write(lo, stats_cols=["k"])
    t.write(hi, stats_cols=["k"])
    full = t.read(spark)
    assert len(full.inputFiles()) == 2
    pruned = t.read(spark, prune=("k", 100, None))
    assert len(pruned.inputFiles()) == 1  # the low file provably disjoint
    assert sorted(r.k for r in pruned.collect()) == list(range(100, 110))
    # row-wise filter still applies within the kept file
    mid = t.read(spark, prune=("k", 105, 200))
    assert sorted(r.k for r in mid.collect()) == list(range(105, 110))
    # files without stats are conservatively kept
    t.write(_df(spark, [(500, "x")]).coalesce(1))  # no stats_cols
    assert len(t.read(spark, prune=("k", 0, 1)).inputFiles()) == 2


def test_compact_rewrites_layout_not_content(spark):
    t = _tbl()
    t.write(_df(spark, [(1, "a")]).coalesce(1))
    t.write(_df(spark, [(2, "b")]).coalesce(1))
    before = sorted(map(tuple, t.read(spark).collect()))
    v = t.compact(spark, target_files=1, stats_cols=["k"])
    assert len(t.read(spark).inputFiles()) == 1
    assert sorted(map(tuple, t.read(spark).collect())) == before
    assert {r.version: r.operation for r in t.history(spark).collect()}[v] == "optimize"


def test_stream_sink_exactly_once_append_and_merge(spark):
    # append face: replaying batch 0 must not duplicate rows
    t = _tbl()
    sink = t.stream_sink()
    sink(_df(spark, [(1, "a")]), 0)
    sink(_df(spark, [(1, "a")]), 0)  # replay
    sink(_df(spark, [(2, "b")]), 1)
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2]
    assert t.latest_version() == 2  # two batches -> two versions
    # merge face: upsert semantics + replay guard
    t2 = _tbl()
    up = t2.stream_sink(on=["k"])
    up(_df(spark, [(1, "a"), (2, "b")]), 0)
    up(_df(spark, [(2, "B"), (3, "c")]), 1)
    up(_df(spark, [(2, "B"), (3, "c")]), 1)  # replay
    got = {r.k: r.v for r in t2.read(spark).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    assert t2.latest_version() == 2


def test_merge_with_delete_clause_through_versioned_face(spark):
    """The CDC delete clause passes through t.merge to
    operators.merge_into: matched rows flagged for delete disappear in
    the new version while the old version still shows them (time
    travel over a delete)."""
    t = _tbl()
    t.write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    src = _df(spark, [(2, "DEL"), (3, "C")])
    v = t.merge(spark, src, on=["k"], matched_delete=F.col("v") == "DEL")
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {1: "a", 3: "C"}  # 2 deleted, 3 updated
    old = {r.k for r in t.read(spark, version=1).collect()}
    assert old == {1, 2, 3}  # snapshot before the delete intact
    assert v == 2


def test_stream_sink_end_to_end_real_stream(spark, sf_dir):
    """Full streaming integration: replay the events fixture as a real
    file-source stream, foreachBatch into VersionedTable.stream_sink
    (append face), and assert (a) the final table equals the batch
    fixture rows, (b) one version per non-empty micro-batch with its
    batch id in the manifest meta — the exactly-once ledger."""
    import tempfile as _tf

    from anti_money_laundering_spark.sources import load_table
    from anti_money_laundering_spark.streaming import read_events_stream

    # reuse the 4-file replay layout from test_streaming (local copy to
    # keep fixtures decoupled)
    ev = load_table(spark, sf_dir, "events").orderBy("ts").limit(400)
    rows = ev.collect()
    replay = _tf.mkdtemp(prefix="vt_stream_replay_")
    chunk = 100
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        pdf = spark.createDataFrame(part, ev.schema)
        pdf.withColumn("ts", F.expr("unix_micros(ts) * 1000")).coalesce(1).write.mode(
            "append"
        ).parquet(replay)
    t = _tbl()
    stream = read_events_stream(spark, replay).select("event_id", "user_id", "value")
    q = (
        stream.writeStream.foreachBatch(t.stream_sink())
        .option("checkpointLocation", _tf.mkdtemp(prefix="vt_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.event_id for r in t.read(spark).collect())
    assert got == sorted(r.event_id for r in ev.collect())
    metas = [t._load(v).meta for v in t.versions()]
    ids = [m["batch_id"] for m in metas if m]
    assert len(ids) == len(set(ids)) and len(ids) >= 1  # unique batch ids


def test_pruned_read_also_pushes_filter_to_scan(spark):
    """Data skipping composes with predicate pushdown: the prune
    filter must ALSO reach the parquet scan (PushedFilters), so kept
    files still skip row groups — manifest pruning and scan pruning
    are layers, not alternatives."""
    t = _tbl()
    t.write(_df(spark, [(i, f"v{i}") for i in range(50)]).coalesce(1), stats_cols=["k"])
    df = t.read(spark, prune=("k", 40, None))
    sc = spark.sparkContext
    plan = sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "k" in pushed and "GreaterThanOrEqual" in pushed
    assert sorted(r.k for r in df.collect()) == list(range(40, 50))


def test_merge_commits_operation_and_meta_atomically(spark):
    """r5 review finding: merge() used to commit first and annotate
    operation/meta with a SECOND manifest rewrite — a crash between
    the two left a committed version without its metadata (breaking
    the streaming sink's exactly-once ledger). Pin the fix: the one
    committed manifest already carries operation='merge' and the
    caller's meta, and no .tmp manifests linger in the log dir."""
    t = _tbl()
    t.write(_df(spark, [(1, "a"), (2, "b")]))
    v = t.merge(spark, _df(spark, [(2, "B")]), on=["k"], meta={"batch_id": 7})
    m = t._load(v)
    assert m.operation == "merge"
    assert m.meta == {"batch_id": 7}
    log_dir = os.path.join(t.path, "_log")
    assert not [f for f in os.listdir(log_dir) if ".tmp" in f]

def test_merge_schema_additive_append_and_null_backfill(spark):
    """mergeSchema evolution: an additive append widens the recorded
    schema; pre-evolution files read back with NULL for the new
    column; non-additive changes still refuse."""
    t = _tbl()
    t.write(_df(spark, [(1, "a")]))
    t.write(
        _df(spark, [(2, "b", 9.5)], "k int, v string, score double"),
        merge_schema=True,
    )
    got = {r.k: (r.v, r.score) for r in t.read(spark).collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}
    assert [f.name for f in t.read(spark).schema.fields] == ["k", "v", "score"]
    # renaming/typing changes are NOT additive
    with pytest.raises(ValueError, match="append schema mismatch"):
        t.write(_df(spark, [(3.0, "c")], "k double, v string"), merge_schema=True)


def test_check_constraints_block_bad_writes(spark):
    t = _tbl()
    t.write(_df(spark, [(1, "a")]), checks={"k_positive": "k > 0"})
    with pytest.raises(ValueError, match="k_positive"):
        t.write(_df(spark, [(-5, "bad")]), checks={"k_positive": "k > 0"})
    # NULL evaluates as violation (expectations semantics)
    with pytest.raises(ValueError, match="k_positive"):
        t.write(
            spark.createDataFrame([(None, "n")], "k int, v string"),
            checks={"k_positive": "k > 0"},
        )
    assert t.latest_version() == 1  # failed writes committed nothing


def test_restore_points_head_back_and_keeps_history(spark):
    t = _tbl()
    t.write(_df(spark, [(1, "a")]))
    t.write(_df(spark, [(2, "b")]), mode="overwrite")
    v = t.restore(1)
    assert v == 3
    assert [r.k for r in t.read(spark).collect()] == [1]
    # the bad version is still time-travelable
    assert [r.k for r in t.read(spark, version=2).collect()] == [2]
    ops = {r.version: r.operation for r in t.history(spark).collect()}
    assert ops[3] == "restore(v1)"
    # vacuum keeping the restored head must keep its (shared) files
    t.vacuum(retain=1)
    assert [r.k for r in t.read(spark).collect()] == [1]


def test_concurrent_appends_with_retry_all_land(spark):
    """Real-concurrency pin for the optimistic protocol: two threads
    each append 4 single-row versions, retrying on CommitConflict.
    Every append must land exactly once — contiguous versions, all 8
    rows present, no row duplicated or lost."""
    import threading

    t = _tbl()
    errors = []

    def worker(tag: int) -> None:
        try:
            for i in range(4):
                row = _df(spark, [(tag * 10 + i, f"w{tag}")])
                while True:
                    try:
                        t.write(row)
                        break
                    except CommitConflict:
                        continue  # re-read the log and retry
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(n,)) for n in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert t.versions() == list(range(1, 9))  # contiguous, no gaps
    rows = sorted(r.k for r in t.read(spark).collect())
    assert rows == sorted([10, 11, 12, 13, 20, 21, 22, 23])


def test_merge_detects_lost_update_via_pinned_base(spark):
    # r5 advice (medium): a commit landing between merge's snapshot
    # read and its own commit must surface CommitConflict — not be
    # silently overwritten by a merge computed from the stale snapshot.
    from anti_money_laundering_spark.operators import merge_into

    t = _tbl()
    t.write(_df(spark, [(1, "a")]))

    class _RacingTable(VersionedTable):
        raced = False

        def write(self, df, **kw):
            # interleave a concurrent append exactly once, after the
            # merge has read its snapshot but before it commits
            if kw.get("operation") == "merge" and not _RacingTable.raced:
                _RacingTable.raced = True
                VersionedTable(self.path).write(_df(spark, [(99, "zz")]))
            return super().write(df, **kw)

    rt = _RacingTable(t.path)
    with pytest.raises(CommitConflict):
        rt.merge(spark, _df(spark, [(1, "A")]), on=["k"])
    # the concurrent append's row is still visible (nothing lost)...
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 99]
    # ...and a retry from the fresh snapshot lands cleanly
    v = t.merge(spark, _df(spark, [(1, "A")]), on=["k"])
    got = {r.k: r.v for r in t.read(spark, version=v).collect()}
    assert got == {1: "A", 99: "zz"}


def test_stream_sink_replay_guard_survives_vacuum(spark):
    # r5 advice (low): after vacuum truncates the log, a crash-recovery
    # re-delivery of an old batch must still be skipped. The newest
    # batch-bearing manifest (the ledger) survives vacuum and carries
    # max_batch_id forward.
    t = _tbl()
    sink = t.stream_sink()
    for b in range(4):
        sink(_df(spark, [(b, f"v{b}")]), b)
    # user maintenance commits push the batch manifests past `retain`
    t.compact(spark)
    t.vacuum(retain=1, orphan_grace_s=0)
    # the newest batch-bearing manifest (batch 3's) must have survived
    assert t._last_committed_batch_id() == 3
    before = sorted((r.k, r.v) for r in t.read(spark).collect())
    sink(_df(spark, [(2, "v2")]), 2)  # re-delivery of an old batch
    assert sorted((r.k, r.v) for r in t.read(spark).collect()) == before
    sink(_df(spark, [(4, "v4")]), 4)  # genuinely new batch still lands
    assert (4, "v4") in {(r.k, r.v) for r in t.read(spark).collect()}


def test_vacuum_drops_manifests_before_data_and_tolerates_races(spark):
    # r5 advice (low): expired manifests go first (readers fail fast
    # with "no such version", never a mid-scan missing file), and a
    # concurrent vacuum having already unlinked a manifest or data file
    # must not crash this one.
    t = _tbl()
    t.write(_df(spark, [(1, "a")]))
    t.write(_df(spark, [(2, "b")]), mode="overwrite")
    t.write(_df(spark, [(3, "c")]), mode="overwrite")
    # simulate the concurrent vacuum: version 1's manifest already gone
    os.unlink(os.path.join(t.path, "_log", "00000001.json"))
    deleted = t.vacuum(retain=1, orphan_grace_s=0)  # must not raise
    assert t.versions() == [3]
    assert deleted  # v1+v2 data files reclaimed
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=2)
    assert [r.k for r in t.read(spark).collect()] == [3]


def test_compact_zorder_clustering_enables_two_way_pruning(spark):
    # OPTIMIZE ZORDER: after a Morton-clustered rewrite, a range read
    # selective in EITHER dimension must skip files from manifest stats
    # alone; the arrival-ordered layout (plain compact) cannot skip on
    # the second dimension at all. Content must be identical either way.
    import itertools

    t = _tbl()
    # 32x32 grid arriving in row-major order: y is scattered across
    # every arrival batch, so unclustered file stats on y all overlap
    rows = [(x, y, x * 32 + y) for x, y in itertools.product(range(32), range(32))]
    df = spark.createDataFrame(rows, "x int, y int, v int").repartition(8)
    t.write(df, stats_cols=["x", "y"])

    # plain compact: 8 files, arrival order — y ranges overlap
    t.compact(spark, target_files=8, stats_cols=["x", "y"])
    plain = t._load(t.latest_version())
    plain_y = t._prune_files(plain, ("y", 0, 3))
    assert len(plain_y) == len(plain.files)  # no skipping on y

    # z-ordered compact: both dimensions prune
    t.compact(spark, target_files=8, cluster_by=["x", "y"])
    m = t._load(t.latest_version())
    assert len(m.files) > 1
    kept_x = t._prune_files(m, ("x", 0, 3))
    kept_y = t._prune_files(m, ("y", 0, 3))
    assert len(kept_x) < len(m.files), (len(kept_x), len(m.files))
    assert len(kept_y) < len(m.files), (len(kept_y), len(m.files))
    # pruned reads stay CORRECT (pruning is an optimization, never a
    # semantics change) and content survived both rewrites
    got = sorted(
        (r.x, r.y, r.v) for r in t.read(spark, prune=("y", 0, 3)).collect()
    )
    assert got == sorted((x, y, v) for x, y, v in rows if y <= 3)
    assert t.read(spark).count() == 32 * 32


def test_stream_sink_ledger_scoped_per_app(spark):
    # r6 review finding: a NEW streaming query (fresh checkpoint,
    # batch ids restarting at 0) must not have its batches swallowed
    # by a prior query's max. Ledgers are per app_id (Delta txnAppId).
    t = _tbl()
    a = t.stream_sink(app_id="query-a")
    for b in range(3):
        a(_df(spark, [(b, f"a{b}")]), b)
    b_sink = t.stream_sink(app_id="query-b")
    b_sink(_df(spark, [(100, "b0")]), 0)  # restarts at 0 — must land
    assert (100, "b0") in {(r.k, r.v) for r in t.read(spark).collect()}
    # replay WITHIN an app is still deduped, and app A's ledger survives
    b_sink(_df(spark, [(100, "b0")]), 0)
    a(_df(spark, [(0, "a0")]), 0)  # replay of app A's batch 0
    assert t.read(spark).count() == 4
    assert t._committed_batch_ledger() == {"query-a": 2, "query-b": 0}


def test_concurrent_merges_with_retry_lose_no_updates(spark):
    # The r6 lost-update fix under REAL concurrency: 4 threads each
    # apply 5 read-modify-write merges (increment a counter row) with
    # CommitConflict retry. Snapshot pinning makes every stale merge
    # conflict instead of silently overwriting, so the final counter
    # must equal the total number of increments — the textbook
    # lost-update test.
    import threading

    t = _tbl()
    t.write(_df(spark, [(1, "0")]))
    N_THREADS, N_MERGES = 4, 5
    errors = []

    def worker():
        try:
            for _ in range(N_MERGES):
                while True:
                    cur = int(t.read(spark).collect()[0].v)
                    src = _df(spark, [(1, str(cur + 1))])
                    try:
                        t.merge(spark, src, on=["k"])
                        break
                    except CommitConflict:
                        continue  # re-read and retry
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(N_THREADS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert int(t.read(spark).collect()[0].v) == N_THREADS * N_MERGES


def test_merge_after_stale_read_conflicts(spark):
    # the read-modify-write behind the concurrent test, interleaved by
    # hand: a commit landing between read() and merge() makes the
    # merge conflict (it would otherwise overwrite that commit with an
    # increment computed from the stale read)
    t = _tbl()
    t.write(_df(spark, [(1, "0")]))
    cur = int(t.read(spark).collect()[0].v)
    VersionedTable(t.path).merge(spark, _df(spark, [(1, "5")]), on=["k"])
    with pytest.raises(CommitConflict):
        t.merge(spark, _df(spark, [(1, str(cur + 1))]), on=["k"])
    assert t.read(spark).collect()[0].v == "5"
    # re-read and retry lands; so does a merge after this thread's own
    # commit, which keeps its read current
    cur = int(t.read(spark).collect()[0].v)
    t.write(_df(spark, [(2, "x")]))
    v = t.merge(spark, _df(spark, [(1, str(cur + 1))]), on=["k"])
    assert {r.k: r.v for r in t.read(spark, version=v).collect()} == {1: "6", 2: "x"}


def test_versioned_merge_supports_sync_mode(spark):
    # when_not_matched_by_source passes through the versioned face
    t = _tbl()
    t.write(_df(spark, [(1, "a"), (2, "b")]))
    t.merge(spark, _df(spark, [(2, "B"), (3, "c")]), on=["k"],
            when_not_matched_by_source="delete")
    assert {(r.k, r.v) for r in t.read(spark).collect()} == {(2, "B"), (3, "c")}


def test_stream_sink_carried_ledger_survives_interleaved_commit(spark):
    # r6 advice (medium): app B's sink read the ledger BEFORE its
    # commit's base was resolved, so an app-A commit landing in that
    # gap had its max rolled back by B's stale carried map — A's next
    # crash-replay then re-applied as duplicates. The sink now pins
    # base, reads the ledger as of it, commits with expected_base, and
    # re-reads on CommitConflict. Interleave deterministically: B's
    # first write attempt triggers A's commit first, forcing B through
    # the conflict-retry path.
    t = _tbl()
    a_sink = t.stream_sink(app_id="A")
    a_sink(_df(spark, [(0, "a0")]), 0)
    a_sink(_df(spark, [(1, "a1")]), 1)

    real_write = t.write
    state = {"interleaved": False}

    def racy_write(*args, **kwargs):
        if not state["interleaved"]:
            state["interleaved"] = True
            a_sink(_df(spark, [(2, "a2")]), 2)  # lands between B's ledger read and commit
        return real_write(*args, **kwargs)

    t.write = racy_write  # instance override; sink resolves self.write here
    b_sink = t.stream_sink(app_id="B")
    b_sink(_df(spark, [(100, "b0")]), 0)
    t.write = real_write
    # B's commit must carry A's max as 2 (not the stale 1)
    assert t._committed_batch_ledger() == {"A": 2, "B": 0}
    n = t.read(spark).count()
    a_sink(_df(spark, [(2, "a2")]), 2)  # crash-replay of A's batch 2
    assert t.read(spark).count() == n, "replayed batch re-applied: ledger was rolled back"


def test_stream_sink_empty_table_bootstrap_pins_version_one(spark):
    # expected_base=0 pins "read as empty": a racing first writer makes
    # the sink retry (and see the racer's ledger) instead of landing at
    # v2 with an empty carried map.
    t = _tbl()
    real_write = t.write
    state = {"interleaved": False}

    def racy_write(*args, **kwargs):
        if not state["interleaved"]:
            state["interleaved"] = True
            t2 = VersionedTable(t.path)
            t2.stream_sink(app_id="A")(_df(spark, [(0, "a0")]), 0)
        return real_write(*args, **kwargs)

    t.write = racy_write
    t.stream_sink(app_id="B")(_df(spark, [(1, "b0")]), 0)
    t.write = real_write
    assert t._committed_batch_ledger() == {"A": 0, "B": 0}
    assert t.latest_version() == 2


def test_precarry_ledger_unions_across_legacy_manifests(spark):
    # r6 advice (low): a pre-upgrade log whose manifests each carry a
    # single batch_id must union per-app maxes across ALL of them, not
    # return at the first hit (which lost every other app's max).
    t = _tbl()
    t.write(_df(spark, [(1, "x")]), meta={"batch_id": 3, "app_id": "A"})
    t.write(_df(spark, [(2, "y")]), meta={"max_batch_id": 7})  # r6 pre-scoping form
    t.write(_df(spark, [(3, "z")]), meta={"batch_id": 5, "app_id": "B"})
    t.write(_df(spark, [(4, "w")]))  # non-sink commit: no meta
    assert t._committed_batch_ledger() == {"A": 3, "default": 7, "B": 5}
    # as_of pins the scan: version 1 sees only app A's commit
    assert t._committed_batch_ledger(as_of=1) == {"A": 3}
    # a modern full-carry commit restores the O(1) tail read and wins
    t.write(_df(spark, [(5, "v")]), meta={"app_id": "B", "batch_id": 6,
                                          "max_batch_ids": {"A": 3, "default": 7, "B": 6}})
    assert t._committed_batch_ledger() == {"A": 3, "default": 7, "B": 6}


def test_compact_zorder_rescales_wide_and_negative_domains(spark):
    # r6 advice: morton_code masks raw values to cluster_bits, so a
    # domain wider than 2^bits (or negative) aliased and the "z-order"
    # layout was near-random. compact() now rescales observed [min,max]
    # into the bucket domain first — two-way pruning must work on a
    # 2^20-wide x and a negative-centered y.
    import itertools

    t = _tbl()
    rows = [
        (x * 40_000, y * 5 - 80, x * 32 + y)  # x in [0, 1.24M], y in [-80, 75]
        for x, y in itertools.product(range(32), range(32))
    ]
    df = spark.createDataFrame(rows, "x long, y int, v int").repartition(8)
    t.write(df, stats_cols=["x", "y"])
    t.compact(spark, target_files=8, cluster_by=["x", "y"])
    m = t._load(t.latest_version())
    assert len(m.files) > 1
    kept_x = t._prune_files(m, ("x", 0, 150_000))
    kept_y = t._prune_files(m, ("y", -80, -65))
    assert len(kept_x) < len(m.files), (len(kept_x), len(m.files))
    assert len(kept_y) < len(m.files), (len(kept_y), len(m.files))
    got = sorted((r.x, r.y, r.v) for r in t.read(spark, prune=("y", -80, -65)).collect())
    assert got == sorted((x, y, v) for x, y, v in rows if -80 <= y <= -65)


def test_compact_zorder_continuous_domain_uses_full_bucket_range(spark):
    # Review finding: the integer-domain "+1" span compressed continuous
    # domains into a prefix of the bucket range ([0,1] doubles used half
    # the buckets). Both dimensions must prune on a unit-interval double
    # column, including ranges near the TOP of the domain.
    import itertools

    t = _tbl()
    rows = [
        (x / 31.0, y * 5 - 80, x * 32 + y)
        for x, y in itertools.product(range(32), range(32))
    ]
    df = spark.createDataFrame(rows, "x double, y int, v int").repartition(8)
    t.write(df, stats_cols=["x", "y"])
    t.compact(spark, target_files=8, cluster_by=["x", "y"])
    m = t._load(t.latest_version())
    kept_lo = t._prune_files(m, ("x", 0.0, 0.12))
    kept_hi = t._prune_files(m, ("x", 0.9, 1.0))  # top edge must also cluster
    kept_y = t._prune_files(m, ("y", -80, -65))
    assert len(kept_lo) < len(m.files), (len(kept_lo), len(m.files))
    assert len(kept_hi) < len(m.files), (len(kept_hi), len(m.files))
    assert len(kept_y) < len(m.files), (len(kept_y), len(m.files))
    got = sorted((r.x, r.y, r.v) for r in t.read(spark, prune=("x", 0.9, 1.0)).collect())
    assert got == sorted((x, y, v) for x, y, v in rows if 0.9 <= x <= 1.0)


def test_compact_zorder_three_columns_prunes_all_dimensions(spark):
    # r7: OPTIMIZE ZORDER generalizes past two columns via the n-dim
    # Morton interleave (per-dimension bits auto-shrunk to fit a
    # signed long). A selective range on ANY of the three clustered
    # columns must skip files, and content must survive the rewrite.
    import itertools

    t = _tbl()
    rows = [
        (x, y * 7, z * 1000, x + y + z)
        for x, y, z in itertools.product(range(16), range(16), range(16))
    ]
    df = spark.createDataFrame(rows, "x int, y int, z long, v int").repartition(8)
    t.write(df, stats_cols=["x", "y", "z"])
    t.compact(spark, target_files=8, cluster_by=["x", "y", "z"])
    m = t._load(t.latest_version())
    assert len(m.files) > 1
    for col, lo, hi in [("x", 0, 1), ("y", 0, 7), ("z", 0, 1000)]:
        kept = t._prune_files(m, (col, lo, hi))
        assert len(kept) < len(m.files), (col, len(kept), len(m.files))
    got = sorted((r.x, r.y, r.z, r.v) for r in t.read(spark, prune=("z", 0, 1000)).collect())
    assert got == sorted((x, y, z, v) for x, y, z, v in rows if z <= 1000)


def test_morton_code_n_matches_two_dim_morton(spark):
    from anti_money_laundering_spark.functions import morton_code, morton_code_n

    df = spark.range(256).select(
        (F.col("id") % 16).alias("a"), (F.col("id") / 16).cast("long").alias("b")
    )
    got = df.select(
        morton_code("a", "b", bits=8).alias("m2"),
        morton_code_n(["a", "b"], bits=8).alias("mn"),
    ).filter(F.col("m2") != F.col("mn"))
    assert got.count() == 0
