"""Batch/stream parity: the same transformation executed as a
multi-micro-batch file stream must produce exactly the batch result;
plus watermark-bounded stateful dedup."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anti_money_laundering_spark.sources import load_table
from anti_money_laundering_spark.streaming import (
    dedup_events_stream,
    read_events_stream,
    run_stream_to_memory,
    session_event_stats,
    stateful_user_totals,
    tumbling_event_counts,
)


@pytest.fixture(scope="module")
def replay_dir(spark, sf_dir):
    """The fixture events split into 4 files so the stream runs as 4
    micro-batches (time-ordered so the watermark advances forward) —
    via the shared library harness so the nanos-restore layout detail
    lives once (streaming.write_events_replay)."""
    from anti_money_laundering_spark.streaming import write_events_replay

    return write_events_replay(load_table(spark, sf_dir, "events"), n_files=4)


def _rows(df, keys):
    return sorted(tuple(r[k] for k in keys) for r in df.collect())


def test_tumbling_parity(spark, sf_dir, replay_dir):
    batch = tumbling_event_counts(load_table(spark, sf_dir, "events"), window="6 hours")
    stream = tumbling_event_counts(read_events_stream(spark, replay_dir), window="6 hours")
    got = run_stream_to_memory(stream, "t_tumbling", output_mode="complete")
    cols = ["window_start", "event_type", "n", "value_sum"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_session_parity(spark, sf_dir, replay_dir):
    batch = session_event_stats(load_table(spark, sf_dir, "events"), gap="30 minutes")
    stream = session_event_stats(read_events_stream(spark, replay_dir), gap="30 minutes")
    got = run_stream_to_memory(stream, "t_session", output_mode="complete")
    cols = ["session_start", "user_id", "n_events", "session_value"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_stream_dedup_within_watermark(spark, replay_dir):
    """Each fixture event_id is unique; duplicating the replay dir's
    stream rows via union would need two sources — instead assert the
    stateful dedup is a no-op pass-through on unique ids and that the
    operator appears in the streaming plan (state bounded by
    watermark)."""
    stream = dedup_events_stream(read_events_stream(spark, replay_dir))
    got = run_stream_to_memory(stream, "t_dedup", output_mode="append")
    batch_n = got.sparkSession.read.schema(
        "event_id long, ts long, user_id long, event_type string, value double, props string"
    ).parquet(replay_dir).count()
    assert got.count() == batch_n
    assert got.select("event_id").distinct().count() == batch_n


def test_stateful_totals_parity(spark, sf_dir, replay_dir):
    """The applyInPandasWithState accumulator, replayed over 4
    micro-batches in update mode, must end at the batch aggregate:
    the LAST update per user (max n_events — monotone) equals the
    batch groupBy totals."""
    batch = stateful_user_totals(load_table(spark, sf_dir, "events"))
    b = {r.user_id: (round(r.total_value, 2), r.n_events, r.alert) for r in batch.collect()}
    stream = stateful_user_totals(read_events_stream(spark, replay_dir))
    got = run_stream_to_memory(stream, "t_stateful", output_mode="update")
    final = {}
    for r in got.collect():
        if r.user_id not in final or r.n_events > final[r.user_id][1]:
            final[r.user_id] = (round(r.total_value, 2), r.n_events, r.alert)
    assert final == b
    # update mode emitted intermediate states too (4 micro-batches)
    assert got.count() > len(b)


def test_stream_static_join_parity(spark, sf_dir, replay_dir):
    """Stream-static enrichment: the stream side joined per micro-batch
    against the static customer dim must equal the batch join — and it
    must be STATELESS (no watermark required for an inner join)."""
    from anti_money_laundering_spark.streaming import enrich_events_static

    cust = load_table(spark, sf_dir, "customer")
    batch = enrich_events_static(load_table(spark, sf_dir, "events"), cust)
    stream = enrich_events_static(read_events_stream(spark, replay_dir), cust)
    got = run_stream_to_memory(stream, "t_static_join", output_mode="append")
    cols = ["event_id", "user_id", "c_mktsegment"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_stream_stream_interval_join_parity(spark, sf_dir, replay_dir):
    """Stream-stream interval join replayed over 4 micro-batches must
    equal the batch join: purchases matched to clicks within 1h by the
    same user, with BOTH sides read from the stream source (two
    watermarked stream legs → state-store buffered join, the shape the
    façade's other operators don't exercise)."""
    from anti_money_laundering_spark.streaming import interval_join_streams

    ev = load_table(spark, sf_dir, "events")
    batch = interval_join_streams(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    )
    src = read_events_stream(spark, replay_dir)
    stream = interval_join_streams(
        src.filter(F.col("event_type") == "purchase"),
        read_events_stream(spark, replay_dir).filter(F.col("event_type") == "click"),
    )
    got = run_stream_to_memory(stream, "t_interval_join", output_mode="append")
    cols = ["l_event_id", "r_event_id", "l_user_id"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_stream_dedup_drops_real_duplicates(spark):
    """Write the same rows twice across micro-batch files: the
    watermark-bounded dedup must emit each event_id once."""
    tmp = tempfile.mkdtemp(prefix="events_dup_")
    base_ns = 1_700_000_000_000_000_000
    rows = [(i, base_ns + i * 1_000_000_000, i % 3, "t", 1.0, "{}") for i in range(10)]
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(tmp)
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(tmp)
    stream = dedup_events_stream(read_events_stream(spark, tmp), watermark="10 hours")
    got = run_stream_to_memory(stream, "t_dedup_real", output_mode="append")
    assert got.count() == 10


def test_merge_stream_sink_parity(spark, sf_dir, replay_dir):
    """Streaming CDC upsert: replaying the events files through
    merge_stream_sink (foreachBatch + MERGE, latest-per-key) must land
    the table on exactly the batch answer — the last row per user_id
    by timestamp."""
    from anti_money_laundering_spark.sources import save_table
    from anti_money_laundering_spark.streaming import merge_stream_sink

    ev_schema_df = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    spark.sql("DROP TABLE IF EXISTS stream_merge_sink_t")
    save_table(ev_schema_df.limit(0), "stream_merge_sink_t")

    stream = read_events_stream(spark, replay_dir).select(
        "user_id", "ts", "event_id", "value"
    )
    ckpt = tempfile.mkdtemp(prefix="merge_sink_ckpt_")
    q = merge_stream_sink(
        stream, "stream_merge_sink_t", on=["user_id"], checkpoint_dir=ckpt, latest_by="ts"
    )
    q.awaitTermination()
    try:
        got = {
            r.user_id: r.event_id
            for r in spark.table("stream_merge_sink_t").collect()
        }
        expect = {
            r.user_id: r.event_id
            for r in ev_schema_df.withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(F.col("ts").desc())
                ),
            )
            .filter("__rn = 1")
            .collect()
        }
        assert set(got) == set(expect)
        # ties on ts can pick different event_ids between the replay's
        # per-batch row_number and the global one; values must agree
        # wherever the max-ts row is unique
        ts_counts = (
            ev_schema_df.groupBy("user_id", "ts").count().filter("count > 1").count()
        )
        if ts_counts == 0:
            assert got == expect
    finally:
        spark.sql("DROP TABLE IF EXISTS stream_merge_sink_t")


def test_stateful_transitions_parity(spark, sf_dir, replay_dir):
    """The appended transition stream equals the batch lag window —
    state (the user's last event) survives micro-batch boundaries."""
    from anti_money_laundering_spark.streaming import stateful_event_transitions

    batch = load_table(spark, sf_dir, "events")
    expect = _rows(
        stateful_event_transitions(batch), ["user_id", "prev_type", "next_type", "ts"]
    )
    stream = read_events_stream(spark, replay_dir)
    got = _rows(
        run_stream_to_memory(
            stateful_event_transitions(stream), "transitions_stream", "append"
        ),
        ["user_id", "prev_type", "next_type", "ts"],
    )
    assert got == expect and len(got) > 0


def test_watermark_drops_late_events(spark):
    """An event older than the advanced watermark must be DROPPED, not
    resurrect its (already-closable) window — the state-bound contract
    everything at stream scale depends on. Two runs over one
    checkpoint: run 1 advances the watermark past the late window's
    end; run 2 delivers the late event plus a fresh one."""
    import datetime as dt

    from anti_money_laundering_spark.streaming import (
        read_events_stream,
        tumbling_event_counts,
    )

    def micros(h, m=0):
        return int(
            dt.datetime(2024, 1, 1, h, m, tzinfo=dt.timezone.utc).timestamp() * 1_000_000
        ) * 1000  # raw nanos column

    src = tempfile.mkdtemp(prefix="late_src_")
    ckpt = tempfile.mkdtemp(prefix="late_ckpt_")

    def write_batch(name, rows):
        pdf = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts long, value double, props string"
        )
        pdf.coalesce(1).write.mode("append").parquet(src)

    sink = tempfile.mkdtemp(prefix="late_sink_")

    def run_once():
        stream = read_events_stream(spark, src, max_files_per_trigger=10)
        q = (
            tumbling_event_counts(stream, window="1 hour", watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(sink)

    # run 1: events 10:00-13:00 -> watermark lands at 12:00
    write_batch("b1", [(1, 1, "view", micros(10, 30), 1.0, "{}"),
                       (2, 1, "view", micros(13, 0), 1.0, "{}")])
    run_once()
    # run 2: a LATE event at 09:30 (window [09:00,10:00) << watermark)
    # plus a fresh one at 14:00 to advance things
    write_batch("b2", [(3, 1, "view", micros(9, 30), 1.0, "{}"),
                       (4, 1, "view", micros(14, 0), 1.0, "{}")])
    out = run_once()
    starts = {r.window_start.hour for r in out.collect()}
    assert 10 in starts or 13 in starts  # on-time windows finalize
    assert 9 not in starts  # the late event never creates its window


def test_stream_interval_left_outer_emits_unmatched(spark):
    """Left-outer stream-stream interval join: unmatched purchases emit
    with null right columns ONCE the watermark passes their match
    horizon. Micro-batch 1 carries the real rows, micro-batch 2 a
    far-future sentinel pair whose sole job is to advance the
    watermark and flush the buffered outer results."""
    from anti_money_laundering_spark.streaming import interval_join_streams

    tmp = tempfile.mkdtemp(prefix="events_louter_")
    base = 1_700_000_000_000_000_000  # ns
    h = 3_600_000_000_000  # 1h in ns
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"
    # user 0: click 10 min after purchase (match); user 1: click 2h later
    # (outside the 1h bound); user 2: no click at all.
    real = [
        (1, base, 0, "purchase", 10.0, "{}"),
        (2, base + h // 6, 0, "click", 0.0, "{}"),
        (3, base, 1, "purchase", 20.0, "{}"),
        (4, base + 2 * h, 1, "click", 0.0, "{}"),
        (5, base, 2, "purchase", 30.0, "{}"),
    ]
    sentinel = [
        (98, base + 48 * h, 99, "purchase", 0.0, "{}"),
        (99, base + 48 * h, 99, "click", 0.0, "{}"),
    ]
    spark.createDataFrame(real, schema).coalesce(1).write.mode("append").parquet(tmp)
    spark.createDataFrame(sentinel, schema).coalesce(1).write.mode("append").parquet(tmp)

    stream = interval_join_streams(
        read_events_stream(spark, tmp).filter(F.col("event_type") == "purchase"),
        read_events_stream(spark, tmp).filter(F.col("event_type") == "click"),
        how="left_outer",
    )
    got = run_stream_to_memory(stream, "t_louter", output_mode="append")
    rows = {
        r["l_event_id"]: r["r_event_id"]
        for r in got.collect()
        if r["l_user_id"] != 99
    }
    assert rows == {1: 2, 3: None, 5: None}


def test_synthetic_stream_source_equals_batch(spark):
    """The custom Python DataSource's streaming face: micro-batches of
    the same md5 generator, offset = row index in the checkpoint. The
    accumulated stream must equal the batch read of the same row range
    byte-for-byte (the generator is a pure function of the index, so
    any offset replay regenerates identical rows)."""
    import time

    from anti_money_laundering_spark.sources.synthetic import register_synthetic_source

    register_synthetic_source(spark)
    stream = (
        spark.readStream.format("synthetic_accounts")
        .option("rows", "250")
        .option("batch_rows", "100")
        .load()
    )
    ckpt = tempfile.mkdtemp(prefix="synth_stream_ckpt_")
    q = (
        stream.writeStream.format("memory")
        .queryName("t_synth_stream")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = time.time() + 90
        while spark.table("t_synth_stream").count() < 250 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table("t_synth_stream").collect()))
    batch = sorted(
        map(
            tuple,
            spark.read.format("synthetic_accounts").option("rows", "250").load().collect(),
        )
    )
    assert got == batch


def test_jsonl_stream_sink_batch_scoped_atomic_commits(spark):
    """Custom streaming WRITER: each micro-batch lands atomically under
    batch-scoped names, the _batches log records commits in order, and
    the accumulated files equal the source rows exactly."""
    import json as _json
    import os as _os
    import time

    from anti_money_laundering_spark.sources.jsonl_sink import register_jsonl_sink
    from anti_money_laundering_spark.sources.synthetic import register_synthetic_source

    register_jsonl_sink(spark)
    register_synthetic_source(spark)
    out = tempfile.mkdtemp(prefix="jsonl_stream_sink_")
    stream = (
        spark.readStream.format("synthetic_accounts")
        .option("rows", "120")
        .option("batch_rows", "50")
        .load()
    )
    q = (
        stream.writeStream.format("jsonl_atomic")
        .option("path", out)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="jsonl_sink_ckpt_"))
        .start()
    )
    try:
        deadline = time.time() + 90
        def n_rows():
            total = 0
            for f in _os.listdir(out):
                if f.endswith(".jsonl"):
                    with open(_os.path.join(out, f)) as fh:
                        total += sum(1 for _ in fh)
            return total
        while n_rows() < 120 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    files = sorted(f for f in _os.listdir(out) if f.endswith(".jsonl"))
    assert files and all(f.startswith("batch-") for f in files)
    assert not _os.path.exists(_os.path.join(out, "_staging")) or not _os.listdir(
        _os.path.join(out, "_staging")
    )
    got = []
    for f in files:
        with open(_os.path.join(out, f)) as fh:
            got += [_json.loads(line)["account_id"] for line in fh]
    assert sorted(got) == list(range(120))
    with open(_os.path.join(out, "_batches")) as fh:
        batches = [int(x) for x in fh.read().split()]
    assert batches == sorted(batches)


def test_stream_passthrough_pairs_parity(spark, sf_dir, replay_dir):
    """The pass-through screen's streaming face replayed over 4
    micro-batches must equal its batch face: inflow and outflow legs
    both read from the stream source (two watermarked legs keyed on
    the MIDDLE account, 48h state horizon), the cent-band and
    self-pair residuals applied on the joined stream."""
    from anti_money_laundering_spark.plans.catalog import get_catalog
    from anti_money_laundering_spark.plans.fixture_graphs import FLOW_THRESHOLD
    from anti_money_laundering_spark.streaming import interval_join_streams

    batch = get_catalog()["stream_passthrough_pairs"].fn(spark, sf_dir)

    def leg(df, inflow):
        df = df.filter(F.col("value") > FLOW_THRESHOLD)
        cents = F.round(F.col("value") * 100).cast("long")
        if inflow:
            return df.select(
                F.get_json_object("props", "$.k").cast("long").alias("mid"),
                "event_id",
                cents.alias("cents"),
                "ts",
            )
        return df.select(
            F.col("user_id").alias("mid"), "event_id", cents.alias("cents"), "ts"
        )

    stream = interval_join_streams(
        leg(read_events_stream(spark, replay_dir), inflow=True),
        leg(read_events_stream(spark, replay_dir), inflow=False),
        key="mid",
        upper="48 hours",
        watermark="49 hours",
    ).filter(
        (F.col("l_event_id") != F.col("r_event_id"))
        & (F.col("r_cents") * 10 >= F.col("l_cents") * 8)
        & (F.col("r_cents") * 10 <= F.col("l_cents") * 10)
    )
    got = run_stream_to_memory(stream, "t_passthrough", output_mode="append")
    got = got.select(
        F.col("l_mid").alias("mid"),
        F.col("l_event_id").alias("in_event"),
        F.col("r_event_id").alias("out_event"),
    )
    cols = ["mid", "in_event", "out_event"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_stream_velocity_breaches_parity(spark, sf_dir, replay_dir):
    """The velocity control's streaming face replayed over 4
    micro-batches must equal its batch face: per-user 24h state
    buffer, binary-searched trailing frames, breach-event emission.
    The replay is globally ts-ordered, satisfying the operator's
    ordered-arrival contract; the fixture has no (user, ts) ties."""
    from anti_money_laundering_spark.plans.catalog import get_catalog
    from anti_money_laundering_spark.streaming import velocity_breach_stream

    from anti_money_laundering_spark.plans.feature_queries import (
        _VELOCITY_MAX_1H,
        _VELOCITY_MAX_24H_CENTS,
    )

    batch = get_catalog()["stream_velocity_breaches"].fn(spark, sf_dir)
    stream = velocity_breach_stream(
        read_events_stream(spark, replay_dir),
        max_1h=_VELOCITY_MAX_1H,
        max_24h_cents=_VELOCITY_MAX_24H_CENTS,
    )
    got = run_stream_to_memory(stream, "t_velocity", output_mode="update")
    cols = ["user_id", "event_id", "count_1h", "sum_24h_cents", "count_breach", "sum_breach"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_stream_velocity_hand_case(spark):
    """Hand-computed velocity twin (out-of-family rule): user 1 fires
    3 events where the third sits EXACTLY 1h after the first — the
    trailing frame's lower bound is inclusive, so count_1h = 3 flags;
    user 2 moves 300.00 then 220.01 exactly 24h later — the inclusive
    24h frame sums to 52001 cents, one cent over the strict limit;
    user 3 reaches exactly 52000 and must NOT flag (the > is strict).
    Events arrive across TWO micro-batches splitting user 1's burst,
    so the state buffer (not just same-batch rows) carries the frame.
    """
    import datetime as dt
    import tempfile

    from anti_money_laundering_spark.streaming import velocity_breach_stream

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    h = dt.timedelta(hours=1)
    rows = [
        # (event_id, ts, user, value)
        (1, t0, 1, 10.00),
        (2, t0 + dt.timedelta(minutes=30), 1, 10.00),
        (3, t0 + h, 1, 10.00),              # exactly +1h: inclusive -> c1h=3
        (4, t0, 2, 300.00),
        (5, t0 + 24 * h, 2, 220.01),        # 52001 cents: breach
        (6, t0, 3, 300.00),
        (7, t0 + 24 * h, 3, 220.00),        # 52000 exactly: NO breach
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def mkdf(rs):
        return spark.createDataFrame(
            [(i, ts, u, "transfer", v, "{}") for i, ts, u, v in rs], schema
        )

    # batch face — the limits are the TEST's pinned parameters (the
    # hand arithmetic below depends on exactly 3 / 52000), passed
    # explicitly since the operator deliberately has no defaults
    got = {
        r.event_id: r
        for r in velocity_breach_stream(
            mkdf(rows), max_1h=3, max_24h_cents=52_000
        ).collect()
    }
    assert set(got) == {3, 5}
    assert (got[3].count_1h, got[3].count_breach, got[3].sum_breach) == (3, True, False)
    assert (got[5].sum_24h_cents, got[5].sum_breach, got[5].count_breach) == (
        52001,
        True,
        False,
    )
    # stream face: batch 1 = events at t0/t0+30m, batch 2 = the rest —
    # user 1's frame spans the micro-batch boundary via the state buffer
    tmp = tempfile.mkdtemp(prefix="velocity_hand_")
    early = [r for r in rows if r[1] <= t0 + dt.timedelta(minutes=30)]
    late = [r for r in rows if r[1] > t0 + dt.timedelta(minutes=30)]
    for part in (early, late):
        mkdf(part).withColumn("ts", F.expr("unix_micros(ts) * 1000")).coalesce(
            1
        ).write.mode("append").parquet(tmp)
    stream = velocity_breach_stream(
        read_events_stream(spark, tmp), max_1h=3, max_24h_cents=52_000
    )
    sgot = {
        r.event_id: r
        for r in run_stream_to_memory(
            stream, "t_velocity_hand", output_mode="update"
        ).collect()
    }
    assert set(sgot) == {3, 5}
    assert (sgot[3].count_1h, sgot[3].sum_24h_cents) == (3, 3000)
    assert (sgot[5].sum_24h_cents, sgot[5].sum_breach) == (52001, True)


def test_stream_velocity_evict_idle_keys(spark, replay_dir):
    """r11 advice item 1: idle-key state eviction. With
    ``evict_idle_keys=True`` (EventTimeTimeout: a key drops once the
    watermark passes its last ts + 24h) the replay emits the SAME
    breach set as the unbounded default — eviction only ever discards
    buffers no in-watermark event's frame can reach — while total
    state entries shrink to the users active within 24h of the
    watermark instead of every user ever seen. (ProcessingTimeTimeout
    was measured to keep availableNow replays alive until the
    wall-clock timeout — the event-time form is the deployable one.)
    """
    from anti_money_laundering_spark.plans.feature_queries import (
        _VELOCITY_MAX_1H,
        _VELOCITY_MAX_24H_CENTS,
    )
    from anti_money_laundering_spark.streaming import velocity_breach_stream

    base = run_stream_to_memory(
        velocity_breach_stream(
            read_events_stream(spark, replay_dir),
            max_1h=_VELOCITY_MAX_1H,
            max_24h_cents=_VELOCITY_MAX_24H_CENTS,
        ),
        "t_velocity_nt",
        output_mode="update",
    )
    q = (
        velocity_breach_stream(
            read_events_stream(spark, replay_dir),
            max_1h=_VELOCITY_MAX_1H,
            max_24h_cents=_VELOCITY_MAX_24H_CENTS,
            evict_idle_keys=True,
        )
        .writeStream.format("memory")
        .queryName("t_velocity_ev")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    evicted_state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    timed = spark.table("t_velocity_ev")
    cols = [
        "user_id",
        "event_id",
        "count_1h",
        "sum_24h_cents",
        "count_breach",
        "sum_breach",
    ]
    assert _rows(timed, cols) == _rows(base, cols)
    # the fixture spans weeks of event time, so most users' last
    # activity sits > 24h before the final watermark — eviction must
    # have actually removed entries (vs the default, which keeps one
    # entry per user ever seen)
    n_users = spark.read.parquet(replay_dir).select("user_id").distinct().count()
    assert evicted_state_rows < n_users


def test_stream_coordinated_amounts_parity(spark, sf_dir, replay_dir):
    """The coordination screen's streaming face (chained
    dropDuplicatesWithinWatermark -> tumbling-day window count, append
    mode) replayed over 4 micro-batches must equal its batch face for
    every EMITTED window — append mode holds a day's cell until the
    watermark (max ts - 25h) passes the window end, so the last ~2
    days of event time legitimately stay open; the compare excludes
    them on the batch side (the twin's documented delta)."""
    import datetime as dt

    from anti_money_laundering_spark.plans.catalog import get_catalog
    from anti_money_laundering_spark.streaming import coordinated_amounts_stream
    from anti_money_laundering_spark.plans.feature_queries import _COORD_MIN_SENDERS

    batch = get_catalog()["stream_coordinated_amounts"].fn(spark, sf_dir)
    stream = coordinated_amounts_stream(
        read_events_stream(spark, replay_dir), min_senders=_COORD_MIN_SENDERS
    )
    got = run_stream_to_memory(stream, "t_coord_amounts", output_mode="append")
    max_ts = spark.read.parquet(replay_dir).agg(F.max("ts")).collect()[0][0]
    # emitted = window end (day start + 1 day) <= watermark (max - 25h);
    # replay ts are nanos-as-long. Minus 1s (r12 advice item 4): if the
    # watermark ever lands EXACTLY on a midnight, whether Spark emits
    # the window ending there depends on its strict-vs-non-strict
    # eviction comparison — exclude boundary-exact windows on both
    # sides so a fixture max-ts change can't flake the compare.
    wm = max_ts // 1000 - 25 * 3_600_000_000 - 1_000_000  # microseconds
    horizon = dt.datetime.utcfromtimestamp(wm / 1e6) - dt.timedelta(days=1)
    day_cut = horizon.strftime("%Y-%m-%d")
    closed = batch.filter(F.col("day") <= day_cut)
    # the same cut on the STREAM side: a window whose end falls inside
    # (wm-1s, wm] is dropped from the compare whether or not Spark
    # emitted it, so the test is deterministic under either comparison
    emitted = got.filter(F.col("day") <= day_cut)
    cols = ["cents", "day", "n_senders"]
    assert _rows(emitted, cols) == _rows(closed, cols)
    # and nothing PAST the horizon may have been emitted and then cut
    # silently — rows dropped by the cut can only be cells of the ONE
    # boundary-exact day (several cents cells may share it)
    cut_days = got.filter(F.col("day") > day_cut).select("day").distinct().count()
    assert cut_days <= 1


def test_stream_coordinated_amounts_hand_case(spark):
    """Hand case for the chained-stateful twin: 3 distinct users at
    950.00 on day 1 flag; a 4th SAME-user repeat must not raise the
    count (the dedup leg); 2 users at 500.00 don't flag; 3 users at
    720.00 split 2/1 across midnight don't (calendar-day cell). A
    far-future sentinel advances the watermark so day-1 windows emit.
    Events arrive across TWO micro-batches splitting the ring, so the
    dedup/window state (not same-batch rows) carries the cell."""
    import datetime as dt
    import tempfile

    from anti_money_laundering_spark.streaming import coordinated_amounts_stream

    # tz-AWARE instants: naive datetimes go through the driver
    # machine's OS timezone in createDataFrame, which would shift the
    # asserted UTC day strings on a non-UTC machine (review finding)
    utc = dt.timezone.utc
    d1 = dt.datetime(2024, 3, 1, 9, 0, 0, tzinfo=utc)
    d2 = dt.datetime(2024, 3, 2, 0, 30, 0, tzinfo=utc)
    h = dt.timedelta(hours=1)
    rows = [
        (1, d1, 101, 950.00), (2, d1 + h, 102, 950.00),
        (3, d1 + 2 * h, 103, 950.00), (4, d1 + 3 * h, 101, 950.00),
        (5, d1, 201, 500.00), (6, d1 + h, 202, 500.00),
        (7, d1 + 13 * h, 401, 720.00), (8, d1 + 14 * h, 402, 720.00),
        (9, d2, 403, 720.00),
        (10, d1 + dt.timedelta(days=30), 999, 1.00),  # watermark sentinel
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    tmp = tempfile.mkdtemp(prefix="coord_hand_")
    early = [r for r in rows if r[0] <= 4]
    late = [r for r in rows if r[0] > 4]
    for part in (early, late):
        spark.createDataFrame(
            [(i, ts, u, "transfer", v, "{}") for i, ts, u, v in part], schema
        ).withColumn("ts", F.expr("unix_micros(ts) * 1000")).coalesce(1).write.mode(
            "append"
        ).parquet(tmp)
    stream = coordinated_amounts_stream(
        read_events_stream(spark, tmp), min_senders=3
    )
    got = {
        (r.cents, r.day): r.n_senders
        for r in run_stream_to_memory(
            stream, "t_coord_hand", output_mode="append"
        ).collect()
    }
    assert got == {(95000, "2024-03-01"): 3}


def test_stream_coordinated_amounts_restart_parity(spark, sf_dir, tmp_path):
    """Checkpoint reload: the coordination screen run as two
    ``availableNow`` queries on ONE checkpoint (replay files 0-2, then
    files 3-5 added and the query restarted) must emit, across both
    runs, exactly what one uninterrupted run over all six emits. The
    second run only gets there by reloading the first run's dedup and
    window state, its offsets and its commits from the checkpoint.
    ``min_senders=1`` emits every closed (cents, day) cell with its
    sender count, so a day left open by the first run and finished by
    the second shows any state lost in between; the fixture's
    three-sender cells are too few at small scale to show it."""
    import shutil

    from anti_money_laundering_spark.streaming import (
        coordinated_amounts_stream,
        write_events_replay,
    )

    full = write_events_replay(load_table(spark, sf_dir, "events"), n_files=6, path=str(tmp_path / "full"))
    # the file source replays in modification-time order; copy2 keeps it
    files = sorted(
        (os.path.join(full, f) for f in os.listdir(full) if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    assert len(files) == 6
    cols = ["cents", "day", "n_senders"]

    def run(src, checkpoint, batch_ids):
        emitted = []

        def collect(batch_df, batch_id):
            batch_ids.append(batch_id)
            emitted.extend(_rows(batch_df, cols))

        stream = coordinated_amounts_stream(read_events_stream(spark, str(src)), min_senders=1)
        (
            stream.writeStream.foreachBatch(collect)
            .outputMode("append")
            .option("checkpointLocation", str(checkpoint))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return emitted

    staged, fresh = tmp_path / "staged", tmp_path / "fresh"
    staged.mkdir()
    fresh.mkdir()
    first_ids, second_ids = [], []
    for f in files[:3]:
        shutil.copy2(f, staged)
    first = run(staged, tmp_path / "checkpoint", first_ids)
    for f in files[3:]:
        shutil.copy2(f, staged)
        shutil.copy2(f, fresh)
    second = run(staged, tmp_path / "checkpoint", second_ids)

    whole = _rows(
        run_stream_to_memory(
            coordinated_amounts_stream(read_events_stream(spark, full), min_senders=1),
            "t_coord_whole",
            output_mode="append",
        ),
        cols,
    )
    assert first and second
    assert sorted(first + second) == whole
    # the restart resumed the batch sequence the first run committed
    assert min(second_ids) == max(first_ids) + 1
    # control: files 3-5 on a fresh checkpoint, without the first run's
    # state, do not complete the cells the first run left open
    assert sorted(first + run(fresh, tmp_path / "fresh_checkpoint", [])) != whole


def test_stream_coordinated_sliding_parity(spark, sf_dir, replay_dir):
    """The sliding-grid coordination screen's streaming face (explode
    into both offset 24h grids -> watermark on the window-start
    instant -> dropDuplicatesWithinWatermark -> tumbling 12h
    finalization, append mode) replayed over 4 micro-batches must
    equal its batch face for every EMITTED window. A window [s, s+24h)
    emits once the watermark (max win_ts - 49h) passes its 12h
    finalization bucket's end (s + 12h); the compare excludes
    boundary-exact windows on BOTH sides (the r12 advice-item rule)."""
    import datetime as dt

    from anti_money_laundering_spark.plans.catalog import get_catalog
    from anti_money_laundering_spark.plans.feature_queries import _COORD_MIN_SENDERS
    from anti_money_laundering_spark.streaming import coordinated_sliding_stream

    batch = get_catalog()["stream_coordinated_sliding"].fn(spark, sf_dir)
    stream = coordinated_sliding_stream(
        read_events_stream(spark, replay_dir), min_senders=_COORD_MIN_SENDERS
    )
    got = run_stream_to_memory(stream, "t_coord_sliding", output_mode="append")
    max_ts = spark.read.parquet(replay_dir).agg(F.max("ts")).collect()[0][0]
    us = max_ts // 1000  # replay ts are nanos-as-long
    half = 43_200_000_000
    # the largest window-start instant any event generates is max ts
    # floored to the 12h lattice; wm = that - 49h, minus 1s epsilon so
    # a wm landing exactly on a bucket end can't flake the compare
    wm = (us - us % half) - 49 * 3_600_000_000 - 1_000_000
    # emitted: finalization-bucket end (win + 12h) <= wm
    cut_us = wm - 12 * 3_600_000_000
    cut = dt.datetime.utcfromtimestamp(cut_us / 1e6).strftime("%Y-%m-%d %H:%M")
    closed = batch.filter(F.col("win_start") <= cut)
    emitted = got.filter(F.col("win_start") <= cut)
    cols = ["cents", "win_start", "n_senders"]
    assert _rows(emitted, cols) == _rows(closed, cols)
    # rows dropped by the cut can only be cells of the ONE
    # boundary-exact window start
    cut_wins = (
        got.filter(F.col("win_start") > cut).select("win_start").distinct().count()
    )
    assert cut_wins <= 1


def test_stream_coordinated_sliding_hand_case(spark):
    """Hand case for the sliding twin, pinning the seam fix on the
    always-on face: a 3-sender ring at 880.00 firing 23:00 / 23:30 /
    00:30 UTC straddles midnight — the day twin's cells never reach 3,
    but the noon-offset window [03-01 12:00, 03-02 12:00) emits
    n_senders=3. An inside-day ring at 950.00 emits in BOTH grids (the
    documented duplicate-cell semantics), and a same-user repeat in a
    LATER micro-batch must not raise its count (cross-batch dedup
    state). 2 senders at 500.00 never emit. tz-aware instants."""
    import datetime as dt
    import tempfile

    from anti_money_laundering_spark.streaming import coordinated_sliding_stream

    utc = dt.timezone.utc
    t = lambda d, hh, mm=0: dt.datetime(2024, 3, d, hh, mm, tzinfo=utc)  # noqa: E731
    rows = [
        # midnight-straddling ring (batch 1: the pre-midnight legs)
        (1, t(1, 23), 101, 880.00),
        (2, t(1, 23, 30), 102, 880.00),
        # inside-day ring (batch 1)
        (4, t(1, 9), 201, 950.00),
        (5, t(1, 10), 202, 950.00),
        (6, t(1, 11), 203, 950.00),
        # 2-sender pair — never emits
        (7, t(1, 9), 301, 500.00),
        (8, t(1, 10), 302, 500.00),
        # batch 2: the ring's post-midnight leg, a same-user SAME-window
        # repeat of the inside-day ring (11:30 shares both its windows;
        # in-watermark out-of-order arrival), and the sentinel
        (3, t(2, 0, 30), 103, 880.00),
        (9, t(1, 11, 30), 201, 950.00),
        (10, t(1, 9) + dt.timedelta(days=30), 999, 1.00),
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    tmp = tempfile.mkdtemp(prefix="coord_sliding_hand_")
    batch2 = {3, 9, 10}
    for part in ([r for r in rows if r[0] not in batch2], [r for r in rows if r[0] in batch2]):
        spark.createDataFrame(
            [(i, ts, u, "transfer", v, "{}") for i, ts, u, v in part], schema
        ).withColumn("ts", F.expr("unix_micros(ts) * 1000")).coalesce(1).write.mode(
            "append"
        ).parquet(tmp)
    stream = coordinated_sliding_stream(
        read_events_stream(spark, tmp), min_senders=3
    )
    got = {
        (r.cents, r.win_start): r.n_senders
        for r in run_stream_to_memory(
            stream, "t_coord_sliding_hand", output_mode="append"
        ).collect()
    }
    assert got == {
        (88000, "2024-03-01 12:00"): 3,
        (95000, "2024-03-01 00:00"): 3,
        (95000, "2024-02-29 12:00"): 3,
    }
