"""As-of / range join unit tests with closed-form expectations."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from anti_money_laundering_spark.operators import asof_join, range_join

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def ts(minutes):
    return T0 + dt.timedelta(minutes=minutes)


@pytest.fixture(scope="module")
def quotes(spark):
    rows = [(1, ts(0), 10.0), (1, ts(10), 11.0), (1, ts(20), 12.0), (2, ts(5), 99.0)]
    return spark.createDataFrame(rows, "sym long, ts timestamp, px double")


@pytest.fixture(scope="module")
def trades(spark):
    rows = [(1, ts(0), "a"), (1, ts(9), "b"), (1, ts(10), "c"), (1, ts(25), "d"),
            (2, ts(4), "e"), (3, ts(1), "f")]
    return spark.createDataFrame(rows, "sym long, ts timestamp, tid string")


def test_asof_backward(trades, quotes):
    out = {r.tid: (r.px_matched, r.ts_matched)
           for r in asof_join(trades, quotes, by=["sym"]).collect()}
    assert out["a"] == (10.0, ts(0))   # equal time matches (inclusive)
    assert out["b"] == (10.0, ts(0))
    assert out["c"] == (11.0, ts(10))
    assert out["d"] == (12.0, ts(20))
    assert "e" not in out              # trade at :04, first quote :05 -> inner drops
    assert "f" not in out              # no quotes for sym 3


def test_asof_left_and_tolerance(trades, quotes):
    out = {r.tid: r.px_matched
           for r in asof_join(trades, quotes, by=["sym"], how="left").collect()}
    assert out["e"] is None and out["f"] is None and len(out) == 6
    tol = {r.tid: r.px_matched
           for r in asof_join(trades, quotes, by=["sym"], how="left",
                              tolerance_seconds=120).collect()}
    assert tol["a"] == 10.0            # 0s away
    assert tol["b"] is None            # 9 min > 2 min tolerance
    assert tol["c"] == 11.0            # exact match at :10


def test_asof_forward(trades, quotes):
    out = {r.tid: r.px_matched
           for r in asof_join(trades, quotes, by=["sym"], direction="forward").collect()}
    assert out["a"] == 10.0            # inclusive at equal time
    assert out["b"] == 11.0            # next quote at :10
    assert out["c"] == 11.0
    assert "d" not in out              # no quote after :25
    assert out["e"] == 99.0


def test_range_join_containment(spark, trades):
    intervals = spark.createDataFrame(
        [(1, ts(0), ts(10), "w1"), (1, ts(8), ts(30), "w2"), (2, ts(0), ts(3), "w3")],
        "sym long, lo timestamp, hi timestamp, tag string",
    )
    out = {(r.tid, r.tag) for r in
           range_join(trades, intervals, by=["sym"], point="ts", lo="lo", hi="hi",
                      bucket_width_seconds=300).collect()}
    assert out == {("a", "w1"), ("b", "w1"), ("b", "w2"), ("c", "w2"), ("d", "w2")}
    # half-open: trade 'a' at :00 in [0,10) yes; 'c' at :10 NOT in w1


def test_range_join_bucket_width_invariance(spark, trades):
    intervals = spark.createDataFrame(
        [(1, ts(0), ts(10), "w1"), (1, ts(8), ts(30), "w2")],
        "sym long, lo timestamp, hi timestamp, tag string",
    )
    expected = None
    for bw in (60, 600, 7200):
        got = sorted((r.tid, r.tag) for r in
                     range_join(trades, intervals, by=["sym"], point="ts",
                                lo="lo", hi="hi", bucket_width_seconds=bw).collect())
        if expected is None:
            expected = got
        assert got == expected


def test_range_join_guards_pathological_fanout(spark, trades):
    """A year-long interval at hourly buckets would explode into 8,760
    shuffle rows per row — the guard fails the job with a clear
    message instead of silently blowing up; widening the bucket to
    match the interval scale passes."""
    import datetime as dt

    year = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), dt.datetime(2025, 1, 1), "y")],
        "sym long, lo timestamp, hi timestamp, tag string",
    )
    with pytest.raises(Exception, match="widen bucket_width_seconds"):
        range_join(trades, year, by=["sym"], point="ts", lo="lo", hi="hi",
                   bucket_width_seconds=3600).collect()
    # global widening is the documented fix: 30-day buckets -> 13
    # explode rows, and all four sym-1 trades (Jan 2024) match
    wide = range_join(trades, year, by=["sym"], point="ts", lo="lo", hi="hi",
                      bucket_width_seconds=86400 * 30)
    assert {r.tid for r in wide.collect()} == {"a", "b", "c", "d"}


def test_range_join_null_bounds_no_match(spark, trades):
    """NULL lo/hi intervals match nothing (explicitly, not via
    sequence(NULL,...) luck) and never trip the fan-out guard with a
    NULL error message."""
    intervals = spark.createDataFrame(
        [(1, ts(0), ts(10), "w1"), (1, None, ts(30), "wn"), (1, ts(0), None, "wm")],
        "sym long, lo timestamp, hi timestamp, tag string",
    )
    out = {(r.tid, r.tag) for r in
           range_join(trades, intervals, by=["sym"], point="ts", lo="lo", hi="hi",
                      bucket_width_seconds=300).collect()}
    assert out == {("a", "w1"), ("b", "w1")}


def test_range_join_inverted_interval_raises(spark, trades):
    """hi < lo must raise — F.sequence would emit a DESCENDING bucket
    list and join wrong buckets."""
    intervals = spark.createDataFrame(
        [(1, ts(30), ts(0), "bad")],
        "sym long, lo timestamp, hi timestamp, tag string",
    )
    with pytest.raises(Exception, match="inverted interval"):
        range_join(trades, intervals, by=["sym"], point="ts", lo="lo", hi="hi",
                   bucket_width_seconds=60).collect()


def test_salted_join_matches_plain_join(spark, sf_dir):
    from anti_money_laundering_spark.operators import salted_join
    from anti_money_laundering_spark.sources import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    plain = {(r.event_id, r.c_name) for r in ev.join(cust, "user_id").collect()}
    salted = {(r.event_id, r.c_name) for r in salted_join(ev, cust, on=["user_id"], salt=8).collect()}
    assert salted == plain
    # left join keeps unmatched left rows exactly once
    lp = ev.join(cust, "user_id", "left").count()
    ls = salted_join(ev, cust, on=["user_id"], salt=8, how="left").count()
    assert ls == lp


def test_bucketed_tables_join_without_exchange(spark, sf_dir):
    from anti_money_laundering_spark.sources import load_table, save_bucketed
    from tests.test_plans import explain_str

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    save_bucketed(orders, "b_orders", 8, ["o_orderkey"], sort_by=["o_orderkey"])
    save_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", 8, ["o_orderkey"], sort_by=["o_orderkey"],
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = explain_str(joined)
        # co-bucketed layout: the sort-merge join reads both sides
        # directly — the per-query shuffle is gone
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_asof_null_right_column_not_backfilled(spark):
    """A genuine NULL in a matched right column must stay NULL — not be
    backfilled from an older right row (all matched columns come from
    the same right row)."""
    quotes = spark.createDataFrame(
        [(1, ts(0), 10.0, "X"), (1, ts(10), None, "Y")],
        "sym long, ts timestamp, px double, src string",
    )
    trades_ = spark.createDataFrame([(1, ts(15), "t1")], "sym long, ts timestamp, tid string")
    row = asof_join(trades_, quotes, by=["sym"]).collect()[0]
    assert row.ts_matched == ts(10)
    assert row.src_matched == "Y"
    assert row.px_matched is None  # was 10.0 (stale composite row) before the struct fill


# ---------------------------------------------------------------------------
# merge_into (Delta-style MERGE semantics, storage-agnostic)
# ---------------------------------------------------------------------------


def _merge_fixtures(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, amount double",
    )
    source = spark.createDataFrame(
        # update id=2, delete id=3 (op=D), insert id=9; op is an extra
        # CDC column that must not leak into the output
        [(2, "B2", 25.0, "U"), (3, "c", 30.0, "D"), (9, "z", 90.0, "U")],
        "id long, name string, amount double, op string",
    )
    return target, source


def test_merge_into_update_insert_delete(spark):
    from anti_money_laundering_spark.operators import merge_into

    target, source = _merge_fixtures(spark)
    out = merge_into(target, source, on=["id"], matched_delete=F.col("op") == "D")
    assert out.columns == ["id", "name", "amount"]
    rows = {r.id: (r.name, r.amount) for r in out.collect()}
    assert rows == {1: ("a", 10.0), 2: ("B2", 25.0), 9: ("z", 90.0)}


def test_merge_into_ignore_unmatched_source(spark):
    from anti_money_laundering_spark.operators import merge_into

    target, source = _merge_fixtures(spark)
    out = merge_into(
        target, source.filter("op <> 'D'"), on=["id"], when_not_matched="ignore"
    )
    rows = {r.id: (r.name, r.amount) for r in out.collect()}
    assert rows == {1: ("a", 10.0), 2: ("B2", 25.0), 3: ("c", 30.0)}


def test_merge_into_duplicate_source_keys_raise(spark):
    from anti_money_laundering_spark.operators import merge_into

    target, _ = _merge_fixtures(spark)
    dup = spark.createDataFrame(
        [(2, "x", 1.0), (2, "y", 2.0)], "id long, name string, amount double"
    )
    with pytest.raises(Exception, match="duplicate source rows"):
        merge_into(target, dup, on=["id"]).collect()
    # opt-out skips the check (caller has deduplicated); last-writer
    # ambiguity is then the caller's problem — both rows surface
    assert merge_into(target, dup, on=["id"], validate_unique_source=False).count() == 4


def test_merge_into_missing_source_column_raises(spark):
    from anti_money_laundering_spark.operators import merge_into

    target, source = _merge_fixtures(spark)
    with pytest.raises(ValueError, match="source lacks target columns"):
        merge_into(target, source.drop("amount"), on=["id"])


def test_table_diff_and_merge_roundtrip(spark):
    """table_diff emits exactly the churn (I/U/D, null-safe compare);
    replaying the diff through merge_into reproduces the new snapshot."""
    from anti_money_laundering_spark.operators import merge_into, table_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        "id long, name string, amount double",
    )
    new = spark.createDataFrame(
        # 1 unchanged, 2 NULL->value (U), 3 deleted, 5 inserted
        [(1, "a", 10.0), (2, "b", 20.0), (4, "d", 40.0), (5, "e", 50.0)],
        "id long, name string, amount double",
    )
    diff = table_diff(old, new, on=["id"])
    ops = {r.id: r.op for r in diff.collect()}
    assert ops == {2: "U", 3: "D", 5: "I"}  # id=1 and id=4 unchanged, absent
    # roundtrip: old + diff-as-CDC == new
    cdc = diff.select(
        "id",
        F.col("after.name").alias("name"),
        F.col("after.amount").alias("amount"),
        "op",
    )
    replayed = merge_into(old, cdc, on=["id"], matched_delete=F.col("op") == "D")
    assert {tuple(r) for r in replayed.collect()} == {tuple(r) for r in new.collect()}


def test_merge_into_empty_sides(spark):
    from anti_money_laundering_spark.operators import merge_into, table_diff

    t = spark.createDataFrame([(1, "a", 1.0)], "id long, name string, amount double")
    empty = spark.createDataFrame([], "id long, name string, amount double")
    # empty source: target unchanged
    assert merge_into(t, empty, on=["id"]).collect() == t.collect()
    # empty target: all inserts
    assert merge_into(empty, t, on=["id"]).collect() == t.collect()
    # both empty
    assert merge_into(empty, empty, on=["id"]).count() == 0
    # diff of identical tables is empty; diff against empty is all-I/all-D
    assert table_diff(t, t, on=["id"]).count() == 0
    assert {r.op for r in table_diff(empty, t, on=["id"]).collect()} == {"I"}
    assert {r.op for r in table_diff(t, empty, on=["id"]).collect()} == {"D"}


def test_approx_quantiles_rank_error_bound(spark, sf_dir):
    """percentile_approx(accuracy=10000) guarantees rank error <=
    n/accuracy: the value it returns for quantile q must sit within
    that many ranks of the exact order statistic."""
    import bisect

    from anti_money_laundering_spark.plans.catalog import get_catalog

    from pyspark.sql import functions as F

    from anti_money_laundering_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    approx = o.agg(
        *[
            F.percentile_approx("o_totalprice", q, 10000).alias(f"q{i}")
            for i, q in enumerate((0.5, 0.9, 0.99))
        ]
    ).collect()[0]
    vals = sorted(r[0] for r in o.select("o_totalprice").collect())
    n = len(vals)
    tol = max(1, n // 10000 + 1)
    for q, got in ((0.5, approx.q0), (0.9, approx.q1), (0.99, approx.q2)):
        target = int(q * (n - 1))
        lo = bisect.bisect_left(vals, got)
        hi = bisect.bisect_right(vals, got) - 1
        assert lo - tol <= target <= hi + tol, (q, got, lo, hi, target)
    # the catalog query's hash-covered brackets (100x looser) follow
    row = get_catalog()["approx_quantiles_prices"].fn(spark, sf_dir).collect()[0]
    assert row.p50_ok and row.p90_ok and row.p99_ok
    assert row.n_orders == n


def test_profile_table_counts_nulls_and_approx_path(spark):
    from anti_money_laundering_spark.operators import profile_table

    df = spark.createDataFrame(
        [(1, "a", None), (2, None, 3.5), (3, "a", 2.0), (None, "b", 2.0)],
        "k int, s string, v double",
    )
    prof = {r["col_name"]: r for r in profile_table(df).collect()}
    assert set(prof) == {"k", "s", "v"}
    assert all(r["n_rows"] == 4 for r in prof.values())
    assert prof["k"]["n_non_null"] == 3 and prof["k"]["n_distinct"] == 3
    assert prof["s"]["n_non_null"] == 3 and prof["s"]["n_distinct"] == 2
    assert prof["v"]["n_non_null"] == 3 and prof["v"]["n_distinct"] == 2
    # native-typed ordering before stringification: numeric min is 1, not "1" vs "10"
    assert prof["k"]["min_value"] == "1" and prof["k"]["max_value"] == "3"
    assert prof["v"]["min_value"] == "2.0" and prof["v"]["max_value"] == "3.5"
    # HLL path returns the same shape with approximate distincts
    approx = {r["col_name"]: r for r in profile_table(df, exact_distinct=False).collect()}
    assert approx["s"]["n_non_null"] == 3
    assert 1 <= approx["s"]["n_distinct"] <= 3
    # names an unfamiliar table may carry: a dot, a backtick, a quote
    odd = spark.createDataFrame([(1, "x", 2.0), (1, None, None)], ["a.b", "a`b", "a'b"])
    for exact in (True, False):
        prof = {r["col_name"]: r for r in profile_table(odd, exact_distinct=exact).collect()}
        assert set(prof) == {"a.b", "a`b", "a'b"}
        assert [prof[c]["n_non_null"] for c in ("a.b", "a`b", "a'b")] == [2, 1, 1]
        assert [prof[c]["n_distinct"] for c in ("a.b", "a`b", "a'b")] == [1, 1, 1]
        assert prof["a`b"]["min_value"] == "x" and prof["a'b"]["max_value"] == "2.0"


def test_winsorized_mean_ignores_nulls(spark):
    """NULL values must stay NULL through the clamp (Spark's
    greatest/least skip nulls — an unguarded clamp would coerce NULL
    rows to the lower percentile and bias wins_mean low)."""
    from anti_money_laundering_spark.features import winsorized_mean

    df = spark.createDataFrame(
        [("a", None)] + [("a", float(i)) for i in range(1, 21)],
        "g string, v double",
    )
    row = winsorized_mean(df, "g", "v", lower=0.05, upper=0.95).collect()[0]
    # raw mean of 1..20 = 10.5; wins_mean must be close (clip only at
    # the band edges) and emphatically NOT dragged toward p05 ~ 1.95
    assert row["raw_mean"] == 10.5
    assert abs(row["wins_mean"] - 10.5) < 0.3
    assert row["n"] == 21  # count(*) includes the NULL row


def test_expectations_null_counts_as_violation(spark):
    """A rule evaluating to NULL (unknown) must count as a violation,
    and the uniqueness rule counts duplicate keys exactly."""
    from anti_money_laundering_spark.operators import expectations

    df = spark.createDataFrame(
        [(1, 5.0), (1, -2.0), (2, None), (3, 1.0)], "k int, v double"
    )
    out = {
        r["rule"]: r["n_violations"]
        for r in expectations(
            df, rules={"v_positive": F.col("v") > 0}, unique_keys=["k"]
        ).collect()
    }
    assert out["v_positive"] == 2  # -2.0 fails, NULL is unknown -> violation
    assert out["unique(k)"] == 1  # k=1 appears twice


def test_rolling_median_all_null_frame_returns_null(spark):
    """ADVICE r4: collect_list drops NULLs, so a frame holding only
    NULL values has size 0 — the positional reads must not run
    (INVALID_INDEX_OF_ZERO under ANSI); the median of nothing is NULL."""
    from anti_money_laundering_spark.features import rolling_median

    df = spark.createDataFrame(
        [("u", 1, None), ("u", 2, None), ("u", 3, 7.0), ("u", 4, 9.0)],
        "k string, seq int, v double",
    )
    med = rolling_median(key="k", value="v", order_by=["seq"], frame_rows=2)
    rows = {r["seq"]: r["m"] for r in df.select("seq", med.alias("m")).collect()}
    assert rows[1] is None and rows[2] is None  # all-NULL frames
    assert rows[3] == 7.0  # singleton frame (NULL dropped)
    assert rows[4] == 8.0  # interpolated even frame


def test_ewma_all_null_head_returns_null(spark):
    """ADVICE r4: an all-NULL lag chain sums den to 0.0 — ANSI mode
    would abort on the division; try_divide yields NULL instead."""
    from anti_money_laundering_spark.features import ewma

    df = spark.createDataFrame(
        [("u", 1, None), ("u", 2, None), ("u", 3, 4.0)],
        "k string, seq int, v double",
    )
    e = ewma(key="k", value="v", order_by=["seq"], alpha=0.5, max_lags=2)
    rows = {r["seq"]: r["e"] for r in df.select("seq", e.alias("e")).collect()}
    assert rows[1] is None and rows[2] is None
    assert rows[3] == 4.0  # only the current value present in the chain


def test_chunk_udtf_lateral_and_direct(spark):
    """Spark 4 UDTF surface: direct call and SQL LATERAL both yield
    positioned fixed-size chunks; a NULL document yields no rows."""
    from anti_money_laundering_spark.functions import chunk_udtf

    U = chunk_udtf()
    out = U(F.lit("a b c d e"), F.lit(2)).collect()
    assert [(r.pos, r.chunk) for r in out] == [(0, "a b"), (1, "c d"), (2, "e")]
    spark.udtf.register("chunk_doc", U)
    df = spark.createDataFrame([(1, "x y z"), (2, None)], "id int, t string")
    df.createOrReplaceTempView("chunk_in")
    rows = spark.sql(
        "SELECT id, pos, chunk FROM chunk_in, LATERAL chunk_doc(t, 2)"
    ).collect()
    assert {(r.id, r.pos, r.chunk) for r in rows} == {(1, 0, "x y"), (1, 1, "z")}


def test_salted_join_salt_deterministic_across_repartitionings(spark, sf_dir):
    # r5 verdict item 5: the salt is md5 over row content, so the SAME
    # row draws the SAME salt under any partition layout (F.rand-based
    # salting changed assignments whenever the layout moved).
    from anti_money_laundering_spark.operators import salted_join
    from anti_money_laundering_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id").limit(500)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.lit(1).alias("one")
    )

    def salts(df):
        # keep_salt=True: observe the ACTUAL assignment the join used
        # (r6 review finding: recomputing the hash expression outside
        # the join proved nothing about salted_join itself)
        j = salted_join(
            df, cust, on=["user_id"], salt=8, left_key="event_id", keep_salt=True
        )
        return {(r.event_id, r["__salt"]) for r in j.select("event_id", "__salt").collect()}

    assert salts(ev) == salts(ev.repartition(17)) == salts(ev.coalesce(1))
    assert len({s for _, s in salts(ev)}) > 1  # salt actually spreads
    # and parity with the plain join still holds with an explicit key
    plain = {
        (r.event_id, r.one)
        for r in ev.join(cust, "user_id").select("event_id", "one").collect()
    }
    salted = {
        (r.event_id, r.one)
        for r in salted_join(ev, cust, on=["user_id"], salt=8, left_key="event_id")
        .select("event_id", "one")
        .collect()
    }
    assert salted == plain


def test_merge_not_matched_by_source_delete_syncs_table(spark):
    # SQL:2023 / Delta's WHEN NOT MATCHED BY SOURCE: with 'delete',
    # MERGE becomes a full sync — result keys == surviving source keys.
    from anti_money_laundering_spark.operators import merge_into

    target = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    source = spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string")
    synced = merge_into(target, source, on=["k"], when_not_matched_by_source="delete")
    assert {(r.k, r.v) for r in synced.collect()} == {(2, "B"), (4, "d")}
    # default 'keep' preserves the old upsert semantics
    upserted = merge_into(target, source, on=["k"])
    assert {(r.k, r.v) for r in upserted.collect()} == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    # and it composes with matched_delete (CDC delete + sync)
    cdc = spark.createDataFrame([(2, "B", "D"), (4, "d", "U")], "k int, v string, op string")
    full = merge_into(
        target, cdc, on=["k"],
        matched_delete=F.col("op") == "D",
        when_not_matched_by_source="delete",
    )
    assert {(r.k, r.v) for r in full.collect()} == {(4, "d")}
    with pytest.raises(ValueError):
        merge_into(target, source, on=["k"], when_not_matched_by_source="nope")


def test_asof_nearest_matches_pandas(spark, trades, quotes):
    # direction='nearest' must reproduce pandas merge_asof semantics
    # (closest in absolute time; our documented tie rule: backward)
    import pandas as pd

    out = {r.tid: r.px_matched
           for r in asof_join(trades, quotes, by=["sym"], direction="nearest",
                              how="left").collect()}
    tp = trades.toPandas().sort_values("ts")
    qp = quotes.toPandas().sort_values("ts")
    merged = pd.merge_asof(tp, qp, on="ts", by="sym", direction="nearest")
    want = {row.tid: (None if pd.isna(row.px) else row.px) for row in merged.itertuples()}
    assert out == want
    # explicit tie: trade at :05 with quotes at :00 and :10 -> backward wins
    t1 = spark.createDataFrame([(1, ts(5), "t")], "sym long, ts timestamp, tid string")
    q1 = spark.createDataFrame([(1, ts(0), 1.0), (1, ts(10), 2.0)],
                               "sym long, ts timestamp, px double")
    tie = asof_join(t1, q1, by=["sym"], direction="nearest").collect()[0]
    assert tie.px_matched == 1.0
    # tolerance still applies on the chosen side
    tol = asof_join(t1, q1, by=["sym"], direction="nearest", how="left",
                    tolerance_seconds=60).collect()[0]
    assert tol.px_matched is None


def test_cusum_matches_textbook_recurrence(spark):
    """The window closed form P_i - min(0, running_min(P)) must equal
    Page's recurrence S_i = max(0, S_{i-1} + (z_i - k)) exactly, on a
    series engineered with a level shift; constant-variance-zero users
    must be dropped, not divided by zero."""
    import datetime as dt

    from anti_money_laundering_spark.features import cusum

    vals = [0.1, -0.2, 0.3, -0.1, 0.0, 5.0, 5.2, 4.9, 5.1, 5.3]
    rows = [("u", dt.datetime(2024, 1, 1, 0, i), float(v), i) for i, v in enumerate(vals)]
    rows += [("flat", dt.datetime(2024, 1, 1, 0, i), 2.0, i) for i in range(3)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double, i long")

    out = cusum(df, key="k", ts="ts", value="v", tiebreak="i", slack=0.5, threshold=2.0)
    got = {r["i"]: r for r in out.filter(F.col("k") == "u").collect()}
    assert out.filter(F.col("k") == "flat").count() == 0  # zero variance dropped

    mean = sum(vals) / len(vals)
    var = sum((v - mean) ** 2 for v in vals) / len(vals)
    z = [(v - mean) / var**0.5 for v in vals]
    s_pos = s_neg = 0.0
    for i, zi in enumerate(z):
        s_pos = max(0.0, s_pos + zi - 0.5)
        s_neg = max(0.0, s_neg - zi - 0.5)
        assert abs(got[i]["cusum_pos"] - s_pos) < 1e-9, i
        assert abs(got[i]["cusum_neg"] - s_neg) < 1e-9, i
        assert got[i]["alarm"] == (max(s_pos, s_neg) > 2.0)
    # the engineered shift must actually alarm on the positive side
    assert got[len(vals) - 1]["alarm"]


def test_rrf_fuse_missing_items_contribute_zero(spark):
    """An id present in only one list gets 0 (not NULL) for the other
    leg; scores follow 1/(k+rank) exactly; one-list fusion works."""
    from anti_money_laundering_spark.operators import rrf_fuse

    a = spark.createDataFrame([(10, 1), (20, 2)], "id long, rank long")
    b = spark.createDataFrame([(20, 1), (30, 2)], "id long, rank long")
    rows = {r["id"]: r for r in rrf_fuse({"x": a, "y": b}, "id", k=60).collect()}
    assert abs(rows[10]["rrf_score"] - 1 / 61) < 1e-12
    assert rows[10]["y_rank"] is None
    assert abs(rows[20]["rrf_score"] - (1 / 62 + 1 / 61)) < 1e-12
    assert abs(rows[30]["rrf_score"] - 1 / 62) < 1e-12
    solo = {r["id"]: r["rrf_score"] for r in rrf_fuse({"x": a}, "id").collect()}
    assert abs(solo[10] - 1 / 61) < 1e-12
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rrf_fuse({}, "id")


def test_skyline_2d_matches_bruteforce(spark):
    """Random integer point sets (with duplicate x, duplicate points,
    negative y) against the O(n^2) dominance definition, across
    partition counts (1 partition == the classic single-sort path;
    many partitions exercise the carry)."""
    import random

    from anti_money_laundering_spark.operators import skyline_2d

    rng = random.Random(1234)
    for trial in range(4):
        pts = [
            (i, rng.randrange(0, 20), rng.randrange(-5, 15))
            for i in range(rng.randrange(1, 120))
        ]
        df = spark.createDataFrame(pts, "id long, x long, y long")
        want = {
            (i, x, y)
            for (i, x, y) in pts
            if not any(
                (x2 >= x and y2 >= y and (x2 > x or y2 > y))
                for (_, x2, y2) in pts
            )
        }
        for n_parts in (1, 3, 16):
            got = {
                (r.id, r.x, r.y)
                for r in skyline_2d(df, "x", "y", num_partitions=n_parts).collect()
            }
            assert got == want, (trial, n_parts)


def test_survival_km_matches_hand_computed(spark):
    """The product-limit estimator on the textbook example:
    durations (event) 1, 3, 3, censored 2, 4. Steps at t=1
    (n=5, d=1 -> 0.8) and t=3 (n=3, d=2 -> 0.8 * 1/3)."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1)
    horizon = dt.datetime(2024, 1, 31)
    # user -> (duration_days, churned): churned iff last < horizon - 1 day
    spec = [(1, 1, True), (2, 3, True), (3, 3, True), (4, 2, False), (5, 4, False)]
    for uid, d, churned in spec:
        first = base
        last = base + dt.timedelta(days=d) if churned else horizon
        if not churned:
            first = horizon - dt.timedelta(days=d)
        rows += [(uid, first, 0.0, "e%d" % uid, "click"), (uid, last, 0.0, "l%d" % uid, "click")]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, event_id string, event_type string"
    )
    import anti_money_laundering_spark.plans.feature_queries as fq

    # run the query body against this frame by monkeypatching load_table
    # (register() returns the function unchanged)
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: ev
    try:
        out = {
            r.t: (r.n_at_risk, r.d_events, r.survival)
            for r in fq.survival_km_users(spark, "ignored").collect()
        }
    finally:
        fq.load_table = orig
    assert out[1] == (5, 1, round(0.8, 6))
    assert out[3] == (3, 2, round(0.8 * (1 - 2 / 3), 6))


def test_time_rollup_subsecond_buckets_stay_distinct(spark):
    """Review fix: sub-second grains must not collapse distinct
    millisecond buckets into one whole-second label."""
    import datetime as dt

    from anti_money_laundering_spark.operators import time_rollup

    rows = [
        (dt.datetime(2024, 1, 1, 12, 0, 0, 100_000), 1.0),
        (dt.datetime(2024, 1, 1, 12, 0, 0, 200_000), 2.0),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = time_rollup(df, "ts", ["millisecond", "second"], [F.sum("v").alias("s")])
    got = {(r.grain, r.bucket): r.s for r in out.collect()}
    ms = {k: v for k, v in got.items() if k[0] == "millisecond"}
    assert len(ms) == 2 and sorted(ms.values()) == [1.0, 2.0], got
    sec = {k: v for k, v in got.items() if k[0] == "second"}
    assert list(sec.values()) == [3.0]
    # format is per-grain: the second-grain label must be identical to
    # the one a second-only rollup emits (joinable across grain lists)
    assert list(sec) == [("second", "2024-01-01 12:00:00")]
    only_sec = time_rollup(df, "ts", ["second"], [F.sum("v").alias("s")])
    assert {(r.grain, r.bucket) for r in only_sec.collect()} == set(sec)


def test_theilsen_matches_numpy_median_of_slopes(spark):
    """Random per-user series vs the literal median-of-pairwise-slopes
    definition in numpy (round-6 agreement)."""
    import datetime as dt
    import random

    import numpy as np

    import anti_money_laundering_spark.plans.feature_queries as fq

    rng = random.Random(42)
    rows, want = [], {}
    base = dt.datetime(2024, 1, 5)
    for uid in range(6):
        k = rng.randrange(2, 12)
        ts = sorted(rng.sample(range(0, 10_000_000), k))
        vals = [round(rng.uniform(0, 300), 2) for _ in range(k)]
        us = [int((base + dt.timedelta(seconds=t)).timestamp() * 1e6) for t in ts]
        slopes = [
            (vals[j] - vals[i]) * 86400e6 / (us[j] - us[i])
            for i in range(k)
            for j in range(i + 1, k)
        ]
        want[uid] = (len(slopes), round(float(np.median(slopes)), 6))
        rows += [
            (uid, base + dt.timedelta(seconds=t), v, f"e{uid}-{t}", "click")
            for t, v in zip(ts, vals)
        ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, event_id string, event_type string"
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: ev
    try:
        got = {
            r.user_id: (r.n_pairs, r.ts_slope)
            for r in fq.theilsen_slope_users(spark, "ignored").collect()
        }
    finally:
        fq.load_table = orig
    assert got == want


def test_psi_and_mi_match_numpy_definitions(spark):
    """PSI per-bin terms and MI in nats vs direct numpy computation on
    a small synthetic event frame."""
    import datetime as dt
    import math
    import random

    from collections import Counter

    import anti_money_laundering_spark.plans.feature_queries as fq

    rng = random.Random(5)
    rows = []
    for i in range(400):
        day = rng.randrange(0, 30)
        ts = dt.datetime(2024, 1, 1) + dt.timedelta(days=day, seconds=rng.randrange(86400))
        # value distribution shifts between halves so PSI is nonzero
        v = rng.uniform(0, 200) if day < 15 else rng.uniform(50, 450)
        rows.append((i % 20, ts, round(v, 2), f"e{i}", rng.choice(["click", "view", "purchase"])))
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, event_id string, event_type string"
    )
    split = dt.datetime(2024, 1, 16)
    na, nb = Counter(), Counter()
    for _, ts, v, _, _ in rows:
        b = min(int(v // 50), 9)
        (na if ts < split else nb)[b] += 1
    ta, tb = sum(na.values()), sum(nb.values())
    want_psi = {}
    for b in set(na) | set(nb):
        sa = (na[b] + 0.5) / (ta + 5.0)
        sb = (nb[b] + 0.5) / (tb + 5.0)
        want_psi[b] = round((sb - sa) * math.log(sb / sa), 6)
    xy = Counter((r[4], (r[1].isoweekday() % 7) + 1) for r in rows)
    nx, ny = Counter(), Counter()
    for (x, y), c in xy.items():
        nx[x] += c
        ny[y] += c
    n = sum(xy.values())
    want_mi = round(
        sum((c / n) * math.log(c * n / (nx[x] * ny[y])) for (x, y), c in xy.items()), 6
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: ev
    try:
        got_psi = {r.bin: r.psi_term for r in fq.psi_value_drift(spark, "ignored").collect()}
        mi_row = fq.mutual_info_type_dow(spark, "ignored").collect()[0]
    finally:
        fq.load_table = orig
    assert got_psi == want_psi
    assert (mi_row.mi_nats, mi_row.n_events) == (want_mi, n)


def test_spearman_matches_scipy_free_reference(spark):
    """Tie-aware Spearman on a small frame vs the direct definition
    (average ranks + Pearson corr) computed with numpy."""
    import numpy as np

    import anti_money_laundering_spark.plans.feature_queries as fq

    rng = np.random.default_rng(3)
    q = rng.integers(1, 6, 200).astype(float)
    d = (rng.integers(0, 4, 200) / 100.0) + (q > 3) * 0.02  # correlated w/ ties
    def avg_rank(a):
        order = np.argsort(a, kind="stable")
        ranks = np.empty(len(a))
        i = 0
        sa = a[order]
        while i < len(a):
            j = i
            while j < len(a) and sa[j] == sa[i]:
                j += 1
            ranks[order[i:j]] = (i + j + 1) / 2.0
            i = j
        return ranks
    rq, rd = avg_rank(q), avg_rank(d)
    want = round(float(np.corrcoef(rq, rd)[0, 1]), 6)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(q, d)], "l_quantity double, l_discount double"
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: df
    try:
        row = fq.spearman_qty_discount(spark, "ignored").collect()[0]
    finally:
        fq.load_table = orig
    assert (row.spearman_rho, row.n_rows) == (want, 200)


def test_welch_ttest_matches_numpy(spark):
    """Welch t and Satterthwaite dof vs the direct numpy formulas on a
    small two-period frame with a planted mean shift."""
    import datetime as dt

    import numpy as np

    import anti_money_laundering_spark.plans.feature_queries as fq

    rng = np.random.default_rng(9)
    a_vals = rng.normal(100, 15, 300)
    b_vals = rng.normal(104, 25, 450)
    rows = [
        (1, dt.datetime(2024, 1, 5), float(v), f"a{i}", "click")
        for i, v in enumerate(a_vals)
    ] + [
        (1, dt.datetime(2024, 1, 20), float(v), f"b{i}", "click")
        for i, v in enumerate(b_vals)
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, event_id string, event_type string"
    )
    ma, mb = a_vals.mean(), b_vals.mean()
    va, vb = a_vals.var(ddof=1), b_vals.var(ddof=1)
    se2a, se2b = va / 300, vb / 450
    t = (ma - mb) / np.sqrt(se2a + se2b)
    dof = (se2a + se2b) ** 2 / (se2a**2 / 299 + se2b**2 / 449)
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: ev
    try:
        row = fq.welch_ttest_periods(spark, "ignored").collect()[0]
    finally:
        fq.load_table = orig
    assert (row.n_a, row.n_b) == (300, 450)
    assert row.t_stat == round(float(t), 6)
    assert row.dof == round(float(dof), 2)
    assert row.sig_05 == (abs(t) > 1.96)


def test_mannwhitney_matches_hand_reference(spark):
    """Pin the U/z/effect formulas against a tiny hand-checkable case
    (the r8 review caught the first cut emitting the sign-inverted
    (1-r)/2 instead of the rank-biserial r = 2*U1/(n1*n2) - 1; both
    sides shared the bug so oracle parity could not). Period A values
    {3.0, 5.0} vs period B {1.0, 2.0, 3.0}: joint avg ranks give
    R1 = 3.5 + 5 = 8.5, U1 = R1 - n1(n1+1)/2 = 5.5 of n1*n2 = 6, so
    rank_biserial = 2*5.5/6 - 1 = 0.833333 (A dominates => positive)."""
    import datetime as dt

    import anti_money_laundering_spark.plans.feature_queries as fq

    a_day = dt.datetime(2024, 1, 10)  # < _DRIFT_SPLIT 2024-01-16
    b_day = dt.datetime(2024, 1, 20)
    rows = [(1, a_day, 3.0), (2, a_day, 5.0), (3, b_day, 1.0), (4, b_day, 2.0), (5, b_day, 3.0)]
    ev = spark.createDataFrame(
        [(i, ts, v, f"e{i}", "click") for i, ts, v in rows],
        "user_id long, ts timestamp, value double, event_id string, event_type string",
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: ev
    try:
        row = fq.mannwhitney_value_periods(spark, "ignored").collect()[0]
    finally:
        fq.load_table = orig
    assert (row.n_a, row.n_b) == (2, 3)
    assert row.u_a == 5.5
    assert row.rank_biserial == 0.833333
    # tie-corrected z: mu = 3, sigma^2 = (6/12) * (6 - (2^3-2)/(5*4)) = 2.85
    import math

    want_z = round((5.5 - 3.0) / math.sqrt(2.85), 6)
    assert row.z_stat == want_z
    assert not row.sig_05


def test_threshold_avoidance_hand_case(spark):
    """Hand-computed structuring screen (out-of-family rule, r8): user
    1 has purchases {90.00 (in band, inclusive low edge), 99.99 (in
    band, top cent), 100.00 (AT the threshold — excluded), 50.00} =>
    n=4, band=2, share=0.5, flagged. User 2 {10,20,30} => band 0, not
    flagged. User 3 has n=2 < 3 => dropped. The view event must not
    count toward purchases."""
    import datetime as dt

    import anti_money_laundering_spark.plans.feature_queries as fq

    t = dt.datetime(2024, 1, 1)
    rows = [
        (1, "purchase", 90.00), (1, "purchase", 99.99),
        (1, "purchase", 100.00), (1, "purchase", 50.00),
        (1, "view", 95.00),
        (2, "purchase", 10.0), (2, "purchase", 20.0), (2, "purchase", 30.0),
        (3, "purchase", 91.0), (3, "purchase", 92.0),
    ]
    ev = spark.createDataFrame(
        [(u, t, ty, v, f"e{i}") for i, (u, ty, v) in enumerate(rows)],
        "user_id long, ts timestamp, event_type string, value double, event_id string",
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: ev
    try:
        got = {r.user_id: r for r in fq.threshold_avoidance_scores(spark, "x").collect()}
    finally:
        fq.load_table = orig
    assert set(got) == {1, 2}
    assert (got[1].n_purchases, got[1].n_band, got[1].band_share, got[1].flagged) == (
        4, 2, 0.5, True,
    )
    assert (got[2].n_purchases, got[2].n_band, got[2].band_share, got[2].flagged) == (
        3, 0, 0.0, False,
    )


def test_round_amount_bias_hand_case(spark):
    """Hand-computed round-number bias: URGENT {100.00, 250.50,
    300.00} => 2/3 round, share = round_half_up(2/3, 6) = 0.666667
    (the div identity: (4000003) div 6 = 666667); HIGH {99.99} => 0."""
    import datetime as dt

    import anti_money_laundering_spark.plans.feature_queries as fq

    t = dt.datetime(2024, 1, 1)
    rows = [
        (1, "1-URGENT", 100.00), (2, "1-URGENT", 250.50), (3, "1-URGENT", 300.00),
        (4, "2-HIGH", 99.99),
    ]
    o = spark.createDataFrame(
        [(k, 1, "O", p, t, pr) for k, pr, p in [(r[0], r[1], r[2]) for r in rows]],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: o
    try:
        got = {r.o_orderpriority: r for r in fq.round_amount_bias_orders(spark, "x").collect()}
    finally:
        fq.load_table = orig
    assert (got["1-URGENT"].n_orders, got["1-URGENT"].n_round) == (3, 2)
    assert got["1-URGENT"].round_share == 0.666667
    assert (got["2-HIGH"].n_orders, got["2-HIGH"].n_round, got["2-HIGH"].round_share) == (
        1, 0, 0.0,
    )


def test_widened_div_identity_matches_fraction(spark, duck):
    """Convention pin for the r9 overflow sweep: the widened
    round-half-up identity round_half_up(a/b, 6) = (2a*1e6 + b) div
    (2b) — decimal(38,0) on Spark, HUGEINT in DuckDB — must equal
    exact Fraction arithmetic for nonnegative a, positive b at
    magnitudes far PAST the old LONG cap (the screens' stress runs
    assert planted signals, not exact identity values; this is the
    out-of-family reference for the arithmetic itself). Includes
    constructed exact-tie cases (7th decimal exactly 5, where
    half-up vs truncation would differ by 1 micro-unit) and huge
    operands up to ~1e28."""
    import random
    from fractions import Fraction

    rng = random.Random(99)
    pairs = []
    # random magnitudes across 28 decades, a <= b (share-shaped) and a free
    for _ in range(60):
        mag = 10 ** rng.randint(1, 28)
        b = rng.randint(1, mag)
        pairs.append((rng.randint(0, b), b))
        pairs.append((rng.randint(0, mag), b))
    # exact .5 ties on the 1e-6 grid: a/b = (10j+5)/1e7 has 7th decimal 5
    for j in (0, 1, 7, 123456, 10**15):
        pairs.append((10 * j + 5, 10**7))
    # old-LONG-cap boundary neighborhood
    for a in (4_611_686_018_427_387_903, 4_611_686_018_427_387_904, 2**63 - 1):
        pairs.append((a, a + 1))

    def frac_round(a, b):
        # floor((2a*1e6 + b) / (2b)) == round-half-up(a/b * 1e6) for a >= 0
        return (2 * a * 10**6 + b) // (2 * b)

    # Spark's `div` returns BIGINT even on decimal operands, so the
    # QUOTIENT (not the operands) must stay under 2^63 — true for
    # every screen (quotients are micro-unit shares/statistics), and
    # enforced here so a future generator edit can't silently push a
    # pair past the convention's own boundary
    assert all(frac_round(a, b) < 2**63 for a, b in pairs)

    rows = [(str(a), str(b)) for a, b in pairs]
    df = spark.createDataFrame(rows, "a string, b string").select(
        F.col("a").cast("decimal(38,0)").alias("a"),
        F.col("b").cast("decimal(38,0)").alias("b"),
    )
    got = df.selectExpr("a", "b", "(2 * a * 1000000 + b) div (2 * b) as q").collect()
    for r in got:
        a, b = int(r.a), int(r.b)
        assert r.q == frac_round(a, b), f"spark div mismatch at a={a} b={b}"
        # and the floor identity really is round-half-up of the true quotient
        true_micro = Fraction(a, b) * 10**6
        lo = true_micro - Fraction(1, 2)
        assert lo <= r.q <= true_micro + Fraction(1, 2)
    for a, b in pairs:
        (dq,) = duck.execute(
            f"SELECT (2 * CAST('{a}' AS HUGEINT) * 1000000 + {b})"
            f" // (2 * CAST('{b}' AS HUGEINT))"
        ).fetchone()
        assert int(dq) == frac_round(a, b), f"duckdb // mismatch at a={a} b={b}"


def test_stream_passthrough_hand_case(spark):
    """Hand-computed pass-through pairs (out-of-family rule, r8),
    pinning the streaming screen's two deliberate deltas from the
    batch ``passthrough_funds_alerts``: (a) the window lower bound is
    INCLUSIVE — outflows o1 at exactly the inflow's own timestamp must
    pair; (b) self-pairing is excluded by EVENT ID, not by strict
    time — e1 is simultaneously a 500.00 inflow into account 5 and a
    500.00 outflow from it at the same instant (100% of itself, inside
    the band and the inclusive window) and must NOT pair with itself.
    Also pinned: the strict upper bound (o2 at exactly +48h drops),
    both band edges (o1 at exactly 80% pairs, o3 one cent under 80%
    of i1 drops — but pairs with i2 whose band it IS inside), and the
    flow threshold (o5 at 140.00 is not > 140 and never enters,
    despite sitting exactly on i2's 80% edge)."""
    import datetime as dt

    import anti_money_laundering_spark.plans.streaming_queries as sq

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    h = dt.timedelta(hours=1)
    rows = [
        # (event_id, user_id, props, value, ts)
        ("i1", 1, '{"k": 5}', 200.00, t0),
        ("i2", 2, '{"k": 5}', 175.00, t0),
        ("e1", 5, '{"k": 5}', 500.00, t0),
        ("o1", 5, "{}", 160.00, t0),            # 80% of i1, ts == t0
        ("o2", 5, "{}", 200.00, t0 + 48 * h),   # exactly +48h: strict upper
        ("o3", 5, "{}", 159.99, t0 + 1 * h),    # 1 cent under i1's band; in i2's
        ("o4", 5, "{}", 200.00, t0 + 1 * h),    # 100% of i1, inclusive high edge
        ("o5", 5, "{}", 140.00, t0 + 1 * h),    # on i2's 80% edge but NOT > threshold
    ]
    ev = spark.createDataFrame(
        rows, "event_id string, user_id long, props string, value double, ts timestamp"
    )
    orig = sq.load_table
    sq.load_table = lambda spark, sf_dir, name: ev
    try:
        got = {
            (r.in_event, r.out_event): r
            for r in sq.stream_passthrough_pairs(spark, "x").collect()
        }
    finally:
        sq.load_table = orig
    assert set(got) == {("i1", "o1"), ("i1", "o4"), ("i2", "o1"), ("i2", "o3")}
    assert all(r.mid == 5 for r in got.values())
    assert (got[("i1", "o1")].in_amount, got[("i1", "o1")].out_amount) == (200.0, 160.0)
    assert (got[("i2", "o3")].in_amount, got[("i2", "o3")].out_amount) == (175.0, 159.99)


def test_kendall_runs_stay_off_rounding_boundaries(duck):
    """Pre-driver pin for kendall_tau_qty_discount's tau_b and
    runs_test_user_values' z_stat (r9 review finding): both divide
    exact integers through a sqrt whose radicand CAN be a perfect
    square (tie-free kendall degenerates to rational (conc-disc)/n0;
    a runs-test user with square 2*n1*n2*(2*n1*n2-n)*(n-1) gets a
    rational z) — the documented cross-engine round(6) landmine class
    the docstrings previously claimed was structurally absent. This
    pin recomputes every compared float from the EXACT integer
    sufficient statistics via 60-digit Decimal and asserts (a) no
    fixture radicand is a perfect square, and (b) every true value
    sits >= 1e-4 scaled units (1e-10 in value — ~10^4x the measured
    cross-engine ulp divergence) off each round-half-to-6-decimals
    boundary. If a fixture regen fails either clause, reformulate the
    offending statistic with the div-based integer round identity
    BEFORE the driver runs (the tfidf margin-pin protocol)."""
    import math
    from decimal import Decimal, getcontext

    getcontext().prec = 60
    margin = Decimal("1e-4")

    def half_dist_scaled(x: Decimal) -> Decimal:
        scaled = x * Decimal(10) ** 6
        frac = scaled - scaled.to_integral_value(rounding="ROUND_FLOOR")
        return abs(frac - Decimal("0.5"))

    # kendall: one global row of exact integers
    n, conc, disc, t1, t2 = (
        int(v)
        for v in duck.execute(
            """
        WITH cells AS (
            SELECT CAST(round(l_quantity) AS BIGINT) q,
                   CAST(round(l_discount*100) AS BIGINT) d,
                   CAST(count(*) AS BIGINT) c
            FROM lineitem GROUP BY 1, 2),
        pairs AS (
            SELECT CAST(sum(CASE WHEN a.d < b.d THEN a.c*b.c ELSE 0 END) AS BIGINT) conc,
                   CAST(sum(CASE WHEN a.d > b.d THEN a.c*b.c ELSE 0 END) AS BIGINT) disc
            FROM cells a JOIN cells b ON a.q < b.q),
        tot AS (SELECT CAST(sum(c) AS BIGINT) n FROM cells),
        tq AS (SELECT CAST(sum(cq*(cq-1))//2 AS BIGINT) t1
               FROM (SELECT sum(c) cq FROM cells GROUP BY q)),
        td AS (SELECT CAST(sum(cd*(cd-1))//2 AS BIGINT) t2
               FROM (SELECT sum(c) cd FROM cells GROUP BY d))
        SELECT n, coalesce(conc, 0), coalesce(disc, 0), t1, t2
        FROM pairs, tot, tq, td
        """
        ).fetchone()
    )
    n0 = n * (n - 1) // 2
    d1, d2 = n0 - t1, n0 - t2
    assert d1 > 0 and d2 > 0, "fixture degenerated to all-tied"
    assert math.isqrt(d1 * d2) ** 2 != d1 * d2, (
        "kendall radicand (n0-t1)*(n0-t2) became a perfect square — tau_b is "
        "now a RATIONAL quotient; switch it to the div-based integer round identity"
    )
    tau = Decimal(conc - disc) / (Decimal(d1).sqrt() * Decimal(d2).sqrt())
    assert half_dist_scaled(tau) >= margin, f"tau_b within {margin} of a boundary"

    # runs test: exact integers per user
    rows = duck.execute(
        """
        WITH seq AS (
            SELECT user_id, (value >= 50.0) hi,
                   lag(value >= 50.0) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts), event_id) prev
            FROM events),
        st AS (
            SELECT user_id, CAST(count(*) AS BIGINT) n,
                   CAST(count(*) FILTER (hi) AS BIGINT) n1,
                   CAST(count(*) FILTER (NOT hi) AS BIGINT) n2,
                   CAST(1 + count(*) FILTER (prev IS NOT NULL AND hi <> prev)
                        AS BIGINT) runs
            FROM seq GROUP BY user_id HAVING 2*n1*n2 > n)
        SELECT user_id, n, n1, n2, runs FROM st
        """
    ).fetchall()
    assert rows, "runs-test fixture output became empty"
    for uid, nn, n1, n2, runs in rows:
        nn, n1, n2, runs = int(nn), int(n1), int(n2), int(runs)
        rad = 2 * n1 * n2 * (2 * n1 * n2 - nn) * (nn - 1)  # times n^2 (square)
        assert math.isqrt(rad) ** 2 != rad, (
            f"user {uid}: runs-test radicand is a perfect square — z is RATIONAL; "
            "switch z_stat to the div-based integer round identity"
        )
        num = Decimal(runs) - (Decimal(2 * n1 * n2) / Decimal(nn) + 1)
        sig = (Decimal(rad) / Decimal(nn * nn * (nn - 1)) / Decimal(nn - 1)).sqrt()
        z = num / sig
        assert half_dist_scaled(z) >= margin, (
            f"user {uid}: z_stat within {margin} scaled units of a round(6) boundary"
        )


def test_benford_first_digit_hand_case(spark):
    """Hand-computed Benford screen (out-of-family rule, r8): prices
    {100.00, 19.99, 0.01} lead with 1 (0.01 -> cents=1 -> digit '1'),
    {250.50, 2.00} with 2, {999.99} with 9; n_total=6. Digit 1's true
    share 3/6*1e6 = 500000.0 exercises the exact-integer branch of the
    half-up identity ((6000006) div 12 = 500000); digit 2 truncates
    333333.83 -> 333333; absent digits 3-8 must still surface as
    n_obs=0 spine rows with dev_micro equal to the full Benford
    expectation."""
    import anti_money_laundering_spark.plans.feature_queries as fq

    li = spark.createDataFrame(
        [(100.00,), (19.99,), (0.01,), (250.50,), (2.00,), (999.99,)],
        "l_extendedprice double",
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: li
    try:
        got = {r.digit: r for r in fq.benford_first_digit_lineitem(spark, "x").collect()}
    finally:
        fq.load_table = orig
    assert set(got) == set(range(1, 10))
    assert all(got[d].n_total == 6 for d in got)
    assert (got[1].n_obs, got[1].obs_share, got[1].dev_micro, got[1].over_represented) == (
        3, 0.5, 198970, True,
    )
    assert (got[2].n_obs, got[2].obs_share, got[2].dev_micro, got[2].over_represented) == (
        2, 0.333333, 157242, True,
    )
    assert (got[9].n_obs, got[9].obs_share, got[9].dev_micro, got[9].over_represented) == (
        1, 0.166667, 120910, True,
    )
    for d, p in zip(range(3, 9), fq._BENFORD_MICRO[2:8]):
        assert (got[d].n_obs, got[d].obs_share, got[d].dev_micro, got[d].over_represented) == (
            0, 0.0, p, False,
        )
    # the rounded reference distribution is itself a distribution
    assert sum(fq._BENFORD_MICRO) == 1_000_000


def test_passthrough_hand_case(spark):
    """Hand-computed funnel screen (out-of-family rule, r8): one
    200.00 inflow into mid 5 pairs with outflows at exactly 80% of the
    amount (inclusive low edge) and 100% (inclusive high edge) inside
    the 48h window; a 159.99 outflow (one cent under 80%), an outflow
    at exactly +48h (strict upper), one at the inflow's own timestamp
    (strict lower), and a 139.00 inflow (under the flow threshold) all
    drop. Expect mid=5: 2 pairs, 1 source, 1 sink, in 400.00 / out
    360.00."""
    import datetime as dt

    import anti_money_laundering_spark.plans.graph_queries as gq

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    h = dt.timedelta(hours=1)
    rows = [
        # (event_id, ts, user_id, value, props)
        (1, t0, 1, 200.00, '{"k": 5}'),              # inflow 1 -> 5
        (2, t0 + 1 * h, 5, 160.00, '{"k": 9}'),      # 80% edge: pairs
        (3, t0 + 47 * h, 5, 200.00, '{"k": 9}'),     # 100% edge: pairs
        (4, t0 + 2 * h, 5, 159.99, '{"k": 10}'),     # one cent under 80%
        (5, t0 + 48 * h, 5, 170.00, '{"k": 9}'),     # exactly +48h: strict <
        (6, t0, 5, 180.00, '{"k": 9}'),              # same instant: strict >
        (7, t0, 2, 139.00, '{"k": 5}'),              # under flow threshold 140
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, "transfer", v, p) for i, ts, u, v, p in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = gq.load_table
    gq.load_table = lambda spark, sf_dir, name: ev
    try:
        got = {r.mid: r for r in gq.passthrough_funds_alerts(spark, "x").collect()}
    finally:
        gq.load_table = orig
    assert set(got) == {5}
    r = got[5]
    assert (r.n_passthrough, r.n_sources, r.n_sinks) == (2, 1, 1)
    assert (r.in_total, r.out_total) == (400.00, 360.00)


def test_periodic_transfer_hand_case(spark):
    """Hand-computed standing-order screen: channel 1->5 drips every
    10 minutes (gaps {10,10,10}: CV^2 = 0, periodic); channel 2->6 is
    ragged (gaps {10,30,60}: var_num = 3*4600 - 100^2 = 3800, CV^2 =
    0.38, mean = round_half_up(100/3, 5) = 33.33333, not periodic);
    channel 3->7 has only two gaps and drops; channel 4->8 fires every
    90 SECONDS — minute-flooring makes the gaps exact {1,1,1}, so it
    reads periodic with mean 1.0."""
    import datetime as dt

    import anti_money_laundering_spark.plans.graph_queries as gq

    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    s = dt.timedelta(seconds=1)
    rows = []
    rows += [(1, 5, t0 + k * 10 * m) for k in range(4)]
    rows += [(2, 6, t0), (2, 6, t0 + 10 * m), (2, 6, t0 + 40 * m), (2, 6, t0 + 100 * m)]
    rows += [(3, 7, t0), (3, 7, t0 + 5 * m), (3, 7, t0 + 11 * m)]
    rows += [(4, 8, t0 + k * 90 * s) for k in range(4)]
    ev = spark.createDataFrame(
        [(i, ts, u, "transfer", 1.0, f'{{"k": {d}}}') for i, (u, d, ts) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = gq.load_table
    gq.load_table = lambda spark, sf_dir, name: ev
    try:
        got = {(r.src, r.dst): r for r in gq.periodic_transfer_patterns(spark, "x").collect()}
    finally:
        gq.load_table = orig
    assert set(got) == {(1, 5), (2, 6), (4, 8)}
    assert (got[(1, 5)].mean_gap_min, got[(1, 5)].gap_cv2, got[(1, 5)].periodic) == (
        10.0, 0.0, True,
    )
    assert (got[(2, 6)].mean_gap_min, got[(2, 6)].gap_cv2, got[(2, 6)].periodic) == (
        33.33333, 0.38, False,
    )
    assert (got[(4, 8)].mean_gap_min, got[(4, 8)].periodic) == (1.0, True)


def test_ks_test_hand_case(spark):
    """Hand-computed two-sample KS: A = {1, 3}, B = {2, 4, 6}. Scaled
    ECDF gaps |cum1*n2 - cum2*n1| over sorted values are {3, 1, 4, 2,
    0}, so ks_num = 4 and D = round_half_up(4/6, 6) = 0.666667; the
    alpha=.05 line is 1.358*sqrt(5/6) ~ 1.24, so not significant."""
    import datetime as dt

    import anti_money_laundering_spark.plans.feature_queries as fq

    a_day = dt.datetime(2024, 1, 10)
    b_day = dt.datetime(2024, 1, 20)
    rows = [(a_day, 1.0), (a_day, 3.0), (b_day, 2.0), (b_day, 4.0), (b_day, 6.0)]
    ev = spark.createDataFrame(
        [(i, ts, 1, "click", v, "{}") for i, (ts, v) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: ev
    try:
        row = fq.ks_test_periods(spark, "x").collect()[0]
    finally:
        fq.load_table = orig
    assert (row.n_a, row.n_b, row.ks_num) == (2, 3, "4")  # VARCHAR-cast decimal
    assert row.ks_d == 0.666667
    assert not row.sig_05


def test_behavior_shift_hand_case(spark):
    """Hand-computed takeover screen: user 1 flips {click:3, view:1}
    -> {click:1, purchase:3}: tv_num = |12-4| + |4-0| + |0-12| = 24
    over 2*4*4 = 32 => TV = 0.75, shifted (> 0.3). User 2 is only
    active in the first half and drops; user 3's mix is unchanged =>
    TV = 0, not shifted."""
    import datetime as dt

    import anti_money_laundering_spark.plans.feature_queries as fq

    a_day = dt.datetime(2024, 1, 10)
    b_day = dt.datetime(2024, 1, 20)
    rows = (
        [(1, a_day, "click")] * 3 + [(1, a_day, "view")]
        + [(1, b_day, "click")] + [(1, b_day, "purchase")] * 3
        + [(2, a_day, "click")] * 2
        + [(3, a_day, "view")] * 2 + [(3, b_day, "view")] * 2
    )
    ev = spark.createDataFrame(
        [(i, ts, u, ty, 1.0, "{}") for i, (u, ts, ty) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: ev
    try:
        got = {r.user_id: r for r in fq.behavior_shift_users(spark, "x").collect()}
    finally:
        fq.load_table = orig
    assert set(got) == {1, 3}
    assert (got[1].n_a, got[1].n_b, got[1].tv_num, got[1].tv_dist, got[1].shifted) == (
        4, 4, 24, 0.75, True,
    )
    assert (got[3].tv_num, got[3].tv_dist, got[3].shifted) == (0, 0.0, False)


def test_kendall_tau_hand_case(spark):
    """Hand-computed tau-b: points (q,d) = (1,1), (1,2), (2,3). The
    (1,1)-(1,2) pair ties on q; the other two pairs are concordant =>
    conc=2, disc=0, t1=1, t2=0, n=3, n0=3, so
    tau_b = 2 / (sqrt(3-1)*sqrt(3-0)) = 2/sqrt(6) = 0.816497."""
    import anti_money_laundering_spark.plans.feature_queries as fq

    pts = [(1.0, 0.01), (1.0, 0.02), (2.0, 0.03)]
    li = spark.createDataFrame(
        [(i, i, 1, q, d, 100.0) for i, (q, d) in enumerate(pts)],
        "l_orderkey long, l_partkey long, l_linenumber long, "
        "l_quantity double, l_discount double, l_extendedprice double",
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: li
    try:
        row = fq.kendall_tau_qty_discount(spark, "x").collect()[0]
    finally:
        fq.load_table = orig
    assert (row.n, row.conc, row.disc, row.t1, row.t2) == (3, 2, 0, 1, 0)
    assert row.tau_b == 0.816497


def test_runs_test_hand_case(spark):
    """Hand-computed runs test: user 1's time-ordered hi/lo pattern
    H H L H L has 4 runs with n1=3, n2=2 => mu = 12/5 + 1 = 3.4,
    sigma^2 = 12*(12-5)/(25*4) = 0.84, z = 0.6/sqrt(0.84) = 0.654654.
    A value of exactly 50.00 counts as high (>= threshold). User 2 is
    all-high (n2=0) and user 3 has 2*n1*n2 = n (sigma = 0) — both must
    drop via the exact integer guard."""
    import datetime as dt

    import anti_money_laundering_spark.plans.feature_queries as fq

    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, 0, 60.0), (1, 1, 50.0), (1, 2, 10.0), (1, 3, 80.0), (1, 4, 20.0),
        (2, 0, 90.0), (2, 1, 91.0),
        (3, 0, 60.0), (3, 1, 10.0),
    ]
    ev = spark.createDataFrame(
        [(i, t0 + k * m, u, "click", v, "{}") for i, (u, k, v) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: ev
    try:
        got = {r.user_id: r for r in fq.runs_test_user_values(spark, "x").collect()}
    finally:
        fq.load_table = orig
    assert set(got) == {1}
    r = got[1]
    assert (r.n1, r.n2, r.runs) == (3, 2, 4)
    assert r.z_stat == 0.654654
    assert not r.nonrandom


def test_reciprocal_transfer_hand_case(spark):
    """Hand-computed U-turn screen (out-of-family rule, r8): 100.00
    goes 1->5 at t0; returns 5->1 at +1h for 85.00 (echo), at exactly
    +48h for 100.00 (inclusive upper edge, 100% echo edge), at +1h for
    79.99 (roundtrip, one cent under the echo band), and at t0 itself
    (strict lower edge: drops). The return legs are also OUT legs on
    channel (5,1) but no 1->5 transfer follows them, so only (1,5)
    surfaces."""
    import datetime as dt

    import anti_money_laundering_spark.plans.graph_queries as gq

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    h = dt.timedelta(hours=1)
    rows = [
        (1, t0, 1, 100.00, '{"k": 5}'),
        (2, t0 + 1 * h, 5, 85.00, '{"k": 1}'),
        (3, t0 + 48 * h, 5, 100.00, '{"k": 1}'),
        (4, t0 + 1 * h, 5, 79.99, '{"k": 1}'),
        (5, t0, 5, 90.00, '{"k": 1}'),
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, "transfer", v, p) for i, ts, u, v, p in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = gq.load_table
    gq.load_table = lambda spark, sf_dir, name: ev
    try:
        got = {(r.src, r.dst): r for r in gq.reciprocal_transfer_alerts(spark, "x").collect()}
    finally:
        gq.load_table = orig
    assert set(got) == {(1, 5)}
    r = got[(1, 5)]
    assert r.n_roundtrips == 3
    assert (r.out_total, r.back_total) == (300.00, 264.99)
    assert r.min_dwell_us == 3_600_000_000
    assert r.n_echo == 2


def test_peer_group_deviation_matches_numpy_loo(spark):
    """Out-of-family replay (r8 rule — oracle symmetry can't catch a
    formula bug both engines share): a planted segment where numpy
    computes each customer's leave-one-out mean and sample variance
    directly, and the screen's integer cross-multiplied 2-sigma test
    must flag exactly the numpy-flagged set. Segment A holds a whale
    (500.00 among ~1.00 peers) that only flags under LOO stats — its
    own mass would hide it in plain segment stats; segment B is
    2-customer (n < 3, excluded); segment C is uniform (no flags)."""
    import numpy as np

    import anti_money_laundering_spark.plans.feature_queries as fq

    seg_totals = {
        "A": [100, 110, 90, 105, 50000],  # cents; the whale is 500.00
        "B": [100, 90000],
        "C": [200, 200, 200, 200],
    }
    orders, cust, ck = [], [], 0
    for seg, totals in seg_totals.items():
        for t in totals:
            ck += 1
            cust.append((ck, seg))
            # split each total into two orders to exercise the rollup
            orders.append((ck, t // 2))
            orders.append((ck, t - t // 2))
    odf = spark.createDataFrame(
        [(c, v / 100.0) for c, v in orders], "o_custkey long, o_totalprice double"
    )
    cdf = spark.createDataFrame(cust, "c_custkey long, c_mktsegment string")

    def fake_load(spark, sf_dir, name):
        return {"orders": odf, "customer": cdf}[name]

    orig = fq.load_table
    fq.load_table = fake_load
    try:
        got = {r.custkey: r for r in fq.peer_group_deviation(spark, "x").collect()}
    finally:
        fq.load_table = orig

    # numpy replay of the LOO 2-sigma test
    expect = {}
    ck = 0
    for seg, totals in seg_totals.items():
        arr = np.array(totals, dtype=np.float64)
        for i, t in enumerate(totals):
            ck += 1
            if len(totals) < 3:
                continue
            peers = np.delete(arr, i)
            d = t - peers.mean()
            if d * d > 4 * peers.var(ddof=1):
                expect[ck] = (seg, t, len(totals) - 1, d > 0)
    assert {k: (r.seg, r.total_cents, r.n_peers, r.above) for k, r in got.items()} == expect
    # the whale flags high, and at least one tiny peer flags... verify
    # the planted shape explicitly: whale custkey 5 is above
    assert got[5].above and got[5].total_cents == 50000


def test_amount_ramp_runs_hand_case(spark):
    """Hand-planted escalation runs (out-of-family rule): customer 1
    ramps 6 strictly-increasing amounts (flags, run=6, exact
    start/peak); customer 2 ramps 10..14 then DROPS to 5 (the drop
    breaks the run) and ramps 5..9 — two length-5 runs, the TIE broken
    toward the EARLIEST island (start 10.00, peak 14.00, not 5.00);
    customer 3 ramps only 4 (below the floor, absent); customer 4
    alternates (absent)."""
    import datetime as dt

    import anti_money_laundering_spark.plans.feature_queries as fq

    d0 = dt.date(2024, 1, 1)
    rows = []  # (orderkey, custkey, date, price)
    ok = 0

    def order(c, day, price):
        nonlocal ok
        ok += 1
        rows.append((ok, c, d0 + dt.timedelta(days=day), price))

    # cust 1: 6-run, dates ascending but keys interleaved with cust 4
    for day, p in enumerate([5.00, 6.00, 7.50, 8.00, 9.99, 12.00]):
        order(1, day, p)
        order(4, day, 10.00 if day % 2 == 0 else 1.00)  # alternator
    # cust 2: 10..14 ramp, drop to 5 (break), 5..9 ramp — two 5-runs
    for day, p in enumerate([10.0, 11.0, 12.0, 13.0, 14.0, 5.0, 6.0, 7.0, 8.0, 9.0]):
        order(2, day, p)
    # cust 3: 4-run only
    for day, p in enumerate([1.0, 2.0, 3.0, 4.0]):
        order(3, day, p)
    odf = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate date, o_totalprice double"
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: odf
    try:
        got = {r.custkey: r for r in fq.amount_ramp_runs(spark, "x").collect()}
    finally:
        fq.load_table = orig
    assert set(got) == {1, 2}
    assert (got[1].longest_run, got[1].start_cents, got[1].peak_cents, got[1].ramp_cents) == (
        6, 500, 1200, 700,
    )
    # two 5-runs for cust 2: the tie breaks toward the EARLIEST island
    assert (got[2].longest_run, got[2].start_cents, got[2].peak_cents) == (5, 1000, 1400)


def test_motif_fanin_capped_planted_mule_vs_hub(spark):
    """Planted-graph case for the CATALOG capped fan-in screen (r10
    verdict item 3): a quiet mule (account 100, degree 3) receives two
    converging >140 deposits and forwards — it must survive with the
    exact c_degree; a hub (account 200, degree 18 > cap 16) carries
    the same shape at volume and every match through it must be
    excluded structurally. The uncapped screen sees both."""
    import datetime as dt

    import anti_money_laundering_spark.plans.graph_queries as gq

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0

    def ev(src, dst, val):
        nonlocal eid
        eid += 1
        rows.append((eid, t0, src, "transfer", val, '{"k": %d}' % dst))

    # mule: 1->100 (200.50), 2->100 (250.00), 100->3 (300.00); deg=3
    ev(1, 100, 200.50)
    ev(2, 100, 250.00)
    ev(100, 3, 300.00)
    # hub: 10 in from 201..210 (250 each), 8 out to 211..218; deg=18
    for s in range(201, 211):
        ev(s, 200, 250.00)
    for d in range(211, 219):
        ev(200, d, 250.00)
    evdf = spark.createDataFrame(
        [(i, ts, u, t, v, p) for i, ts, u, t, v, p in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import anti_money_laundering_spark.plans.fixture_graphs as fg

    orig = fg.load_table
    fg.load_table = lambda spark, sf_dir, name: evdf
    try:
        capped = gq.motif_fanin_capped(spark, "x").collect()
        uncapped = gq.motif_fanin_structuring(spark, "x").collect()
    finally:
        fg.load_table = orig
    assert {(r.a_id, r.b_id, r.c_id, r.g_id) for r in capped} == {(1, 2, 100, 3)}
    r = capped[0]
    assert r.c_degree == 3
    assert r.in_amount == 450.50
    # the hub's 45 pair x 8 forward = 360 matches exist uncapped and
    # are ALL structurally excluded by the guard
    uncapped_keys = {(x.a_id, x.b_id, x.c_id, x.g_id) for x in uncapped}
    assert (1, 2, 100, 3) in uncapped_keys
    assert len(uncapped_keys) == 1 + 45 * 8


def test_reciprocal_channel_cap_excludes_settlement_channel(spark):
    """Planted-settlement-channel guard case (r10 verdict item 2): the
    per-channel volume cap must exclude a high-volume channel pair
    from BOTH legs structurally — mirroring the motif compiler's
    max_vertex_degree semantics. Channel 1<->2 carries 4 transfers
    each way (all echo round-trips); channel 3<->4 carries one wash
    round-trip. With channel_cap=3 the settlement pair disappears and
    the wash pair is untouched; with the cap above the volume the
    settlement pair reports the full 4x4=16 quadratic term. Asymmetry
    leg: channel 7->8 sends 4 outs but 8->7 returns only once — the
    cap binds per DIRECTED channel, so the busy out leg is excluded
    even though the return leg is quiet."""
    import datetime as dt

    import anti_money_laundering_spark.plans.graph_queries as gq

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = []
    eid = 0
    # settlement channel: 4 out 1->2 at t0..t0+3m, 4 back 2->1 at +10m..
    for i in range(4):
        eid += 1
        rows.append((eid, t0 + i * m, 1, 100.00, '{"k": 2}'))
    for i in range(4):
        eid += 1
        rows.append((eid, t0 + (10 + i) * m, 2, 95.00, '{"k": 1}'))
    # wash channel: 3->4 out, 4->3 back
    eid += 1
    rows.append((eid, t0, 3, 50.00, '{"k": 4}'))
    eid += 1
    rows.append((eid, t0 + 5 * m, 4, 45.00, '{"k": 3}'))
    # asymmetric: 7->8 four outs (busy directed channel), 8->7 one back
    for i in range(4):
        eid += 1
        rows.append((eid, t0 + i * m, 7, 10.00, '{"k": 8}'))
    eid += 1
    rows.append((eid, t0 + 30 * m, 8, 9.00, '{"k": 7}'))
    ev = spark.createDataFrame(
        [(i, ts, u, "transfer", v, p) for i, ts, u, v, p in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = gq.load_table
    gq.load_table = lambda spark, sf_dir, name: ev
    try:
        capped = {
            (r.src, r.dst): r
            for r in gq.reciprocal_transfer_alerts(
                spark, "x", channel_cap=3
            ).collect()
        }
        open_ = {
            (r.src, r.dst): r
            for r in gq.reciprocal_transfer_alerts(spark, "x").collect()
        }
    finally:
        gq.load_table = orig
    # capped: only the wash pair survives; the 4-deep directed channels
    # (1->2, 2->1, 7->8) are all structurally excluded
    assert set(capped) == {(3, 4)}
    assert capped[(3, 4)].n_roundtrips == 1
    # default cap (1000) far above these volumes: full quadratic term
    assert set(open_) == {(1, 2), (3, 4), (7, 8)}
    assert open_[(1, 2)].n_roundtrips == 16
    assert open_[(1, 2)].n_echo == 16
    assert open_[(7, 8)].n_roundtrips == 4


def test_reciprocal_channel_cap_rejects_nonpositive(spark):
    # r11 advice item 3: cap <= 0 excludes EVERY channel — a silently
    # empty screen; refuse loudly like the stream twin's horizon check.
    import pytest

    import anti_money_laundering_spark.plans.graph_queries as gq

    for bad in (0, -5):
        with pytest.raises(ValueError, match="channel_cap"):
            gq.reciprocal_transfer_alerts(spark, "x", channel_cap=bad)


def test_velocity_limit_hand_case(spark):
    """Hand-computed velocity control: user 1 fires 3 events inside
    one hour — the third's trailing frame holds all 3 (the -1h edge is
    INCLUSIVE: events at t0 and t0+1h are frame peers), one count
    breach. User 2 moves 300.00 then 220.01 exactly 24h later — the
    inclusive frame sums to 52001 cents, one cent over the limit.
    User 3 sums to exactly 52000 (the > is strict) and never breaches
    — filtered out entirely."""
    import datetime as dt

    import anti_money_laundering_spark.plans.feature_queries as fq

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    mi, hr = dt.timedelta(minutes=1), dt.timedelta(hours=1)
    rows = [
        (1, t0, 1, 1.00), (2, t0 + 30 * mi, 1, 1.00), (3, t0 + 60 * mi, 1, 1.00),
        (4, t0, 2, 300.00), (5, t0 + 24 * hr, 2, 220.01),
        (6, t0, 3, 300.00), (7, t0 + 1 * hr, 3, 220.00),
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, "transfer", v, None) for i, ts, u, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: ev
    try:
        got = {r.user_id: r for r in fq.velocity_limit_breaches(spark, "x").collect()}
    finally:
        fq.load_table = orig
    assert set(got) == {1, 2}
    assert (got[1].n_events, got[1].max_1h_count, got[1].n_count_breaches,
            got[1].n_sum_breaches) == (3, 3, 1, 0)
    assert (got[2].max_24h_cents, got[2].n_count_breaches,
            got[2].n_sum_breaches) == (52001, 0, 1)


def test_new_counterparty_hand_case(spark):
    """Hand-computed counterparty churn: user 1 pays 5 twice and 6
    once on day 1 (2 first-contacts of 3 transfers, share
    round_half_up(2/3, 6) = 0.666667), then 5 again and new 7 on day 2
    (1 of 2). User 2 pays NEW dst 8 twice at the SAME timestamp —
    the event_id tiebreak makes exactly one of them the first."""
    import datetime as dt

    import anti_money_laundering_spark.plans.feature_queries as fq

    d1 = dt.datetime(2024, 1, 1, 10, 0, 0)
    d2 = dt.datetime(2024, 1, 2, 10, 0, 0)
    mi = dt.timedelta(minutes=1)
    rows = [
        (1, d1, 1, 5), (2, d1 + mi, 1, 5), (3, d1 + 2 * mi, 1, 6),
        (4, d2, 1, 5), (5, d2 + mi, 1, 7),
        (6, d1, 2, 8), (7, d1, 2, 8),
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, "transfer", 1.0, f'{{"k": {d}}}') for i, ts, u, d in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: ev
    try:
        got = {(r.src, r.day): r for r in fq.new_counterparty_rate(spark, "x").collect()}
    finally:
        fq.load_table = orig
    assert set(got) == {(1, "2024-01-01"), (1, "2024-01-02"), (2, "2024-01-01")}
    assert (got[(1, "2024-01-01")].n_transfers, got[(1, "2024-01-01")].n_new,
            got[(1, "2024-01-01")].new_share) == (3, 2, 0.666667)
    assert (got[(1, "2024-01-02")].n_transfers, got[(1, "2024-01-02")].n_new,
            got[(1, "2024-01-02")].new_share) == (2, 1, 0.5)
    assert (got[(2, "2024-01-01")].n_transfers, got[(2, "2024-01-01")].n_new,
            got[(2, "2024-01-01")].new_share) == (2, 1, 0.5)


def test_amount_digit_entropy_hand_case(spark):
    """Hand-computed ending-digit entropy vs a python-math replay
    (out-of-family rule, r8): customer 1 repeats one ending (entropy
    exactly 0.0); customer 2's endings split 3/2/1 over six orders
    (entropy = -(1/2 ln 1/2 + 1/3 ln 1/3 + 1/6 ln 1/6)); customer 3
    has only 4 orders and drops at the n >= 5 floor."""
    import math

    import anti_money_laundering_spark.plans.feature_queries as fq

    rows = [(1, 100.25)] * 5
    rows += [(2, 10.10), (2, 20.10), (2, 30.10), (2, 40.20), (2, 50.20), (2, 60.30)]
    rows += [(3, 1.11)] * 4
    orders = spark.createDataFrame(
        [(c, i, p) for i, (c, p) in enumerate(rows)],
        "o_custkey long, o_orderkey long, o_totalprice double",
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: orders
    try:
        got = {r.o_custkey: r for r in fq.amount_digit_entropy(spark, "x").collect()}
    finally:
        fq.load_table = orig
    assert set(got) == {1, 2}
    assert (got[1].n_orders, got[1].n_endings, got[1].ending_entropy,
            got[1].modal_count) == (5, 1, 0.0, 5)
    # the single-ending case is -1*ln(1) = NEGATIVE zero before the
    # + 0.0 canonicalization; == cannot see the sign (0.0 == -0.0) but
    # the driver's repr-based compare can (the graph_modularity r8
    # lesson) — assert the sign bit on BOTH engines' formulations
    assert math.copysign(1.0, got[1].ending_entropy) == 1.0
    import duckdb as _duckdb

    neg_zero = _duckdb.connect().execute(
        "SELECT round(-sum(1.0 * ln(1.0)), 6) + 0.0"
    ).fetchone()[0]
    assert math.copysign(1.0, neg_zero) == 1.0
    expect = -(0.5 * math.log(0.5) + (1 / 3) * math.log(1 / 3) + (1 / 6) * math.log(1 / 6))
    assert got[2].ending_entropy == round(expect, 6)
    assert (got[2].n_orders, got[2].n_endings, got[2].modal_count) == (6, 3, 3)


def test_sorted_neighborhood_hand_case(spark):
    """Hand-computed sorted-neighborhood blocking (out-of-family rule):
    five customers sorted by exact cents with a TIE broken by custkey
    — sorted order is [20 (bal 1.00), 10 (2.00, key 10 wins the tie),
    30 (2.00), 50 (2.50), 40 (9.00)]; w=3 pairs each with its next
    <= 3. The
    near-balance pair (30, 10) sits in DIFFERENT nations — the pair
    equi-blocking on nation can never produce, which is the point of
    the strategy."""
    import anti_money_laundering_spark.plans.linkage_queries as lq

    cust = spark.createDataFrame(
        [
            (10, "BUILDING", 2.00, 1),
            (20, "AUTOMOBILE", 1.00, 1),
            (30, "BUILDING", 2.00, 2),
            (40, "HOUSEHOLD", 9.00, 1),
            (50, "AUTOMOBILE", 2.50, 2),
        ],
        "c_custkey long, c_mktsegment string, c_acctbal double, c_nationkey long",
    )
    orig = lq.load_table
    lq.load_table = lambda spark, sf_dir, name: cust
    try:
        got = {
            (r.uid_l, r.uid_r): r
            for r in lq.linkage_sorted_neighborhood(spark, "x").collect()
        }
    finally:
        lq.load_table = orig
    # sorted: 20(100c) < 10(200c, key 10) < 30(200c, key 30) < 50(250c) < 40(900c)
    expect = {
        (20, 10): (1, 100, 0),
        (20, 30): (2, 100, 0),
        (20, 50): (3, 150, 1),
        (10, 30): (1, 0, 1),
        (10, 50): (2, 50, 0),
        (10, 40): (3, 700, 0),
        (30, 50): (1, 50, 0),
        (30, 40): (2, 700, 0),
        (50, 40): (1, 650, 0),
    }
    assert set(got) == set(expect)
    for k, (gap, cents, seg) in expect.items():
        r = got[k]
        assert (r.rank_gap, r.bal_gap_cents, r.gamma_c_mktsegment) == (gap, cents, seg), k
    # the cross-nation near-balance pair equi-blocking cannot see
    assert (10, 30) in got


def test_k_anonymity_hand_case(spark):
    """Hand-computed k-anonymity histogram (out-of-family rule):
    7 customers form classes of size 3, 2, 1, 1 plus a 5-record pad
    class over the floor — built so the bucket boundary
    (999.99 vs 1000.00) splits a would-be class and a NEGATIVE
    balance pins floor semantics (floor(-5/1000) = -1, not 0)."""
    import anti_money_laundering_spark.plans.curation_queries as cq

    rows = [
        # class (1, AUTO, 0) x3
        (1, 1, "AUTOMOBILE", 10.00),
        (2, 1, "AUTOMOBILE", 500.00),
        (3, 1, "AUTOMOBILE", 999.99),   # bucket 0 boundary edge
        # class (1, AUTO, 1) x1 — the 1000.00 side of the boundary
        (4, 1, "AUTOMOBILE", 1000.00),
        # class (2, BUILDING, 0) x2
        (5, 2, "BUILDING", 1.00),
        (6, 2, "BUILDING", 2.00),
        # class (3, FURNITURE, -1) x1 — negative-balance floor
        (7, 3, "FURNITURE", -5.00),
        # pad class (9, HOUSEHOLD, 0) x5 — NOT at risk at k=5
        *[(10 + i, 9, "HOUSEHOLD", 50.00) for i in range(5)],
    ]
    cust = spark.createDataFrame(
        rows, "c_custkey long, c_nationkey long, c_mktsegment string, c_acctbal double"
    )
    orig = cq.load_table
    cq.load_table = lambda spark, sf_dir, name: cust
    try:
        got = {r.class_size: r for r in cq.k_anonymity_profile(spark, "x").collect()}
    finally:
        cq.load_table = orig
    expect = {1: (2, 2, True), 2: (1, 2, True), 3: (1, 3, True), 5: (1, 5, False)}
    assert set(got) == set(expect)
    for k, (n_classes, n_records, at_risk) in expect.items():
        assert (got[k].n_classes, got[k].n_records, got[k].at_risk) == (
            n_classes, n_records, at_risk,
        ), k


def test_l_diversity_hand_case(spark):
    """Hand-computed l-diversity (out-of-family rule): class (1, AUTO)
    has 4 members ALL in bucket 0 — k-anonymity-fine, l=1, modal 1.0,
    the homogeneity attack this screen exists to flag; class (2,
    BUILDING) spans 3 buckets over 4 members (l=3, diverse, modal
    share round_half_up(2/4, 6) = 0.5); class (3, FURNITURE) has 2
    members in 2 buckets (l=2, not diverse at l>=3)."""
    import anti_money_laundering_spark.plans.curation_queries as cq

    rows = [
        (1, 1, "AUTOMOBILE", 10.00),
        (2, 1, "AUTOMOBILE", 500.00),
        (3, 1, "AUTOMOBILE", 900.00),
        (4, 1, "AUTOMOBILE", 999.99),
        (5, 2, "BUILDING", 100.00),
        (6, 2, "BUILDING", 200.00),
        (7, 2, "BUILDING", 1500.00),
        (8, 2, "BUILDING", 2500.00),
        (9, 3, "FURNITURE", 100.00),
        (10, 3, "FURNITURE", 1100.00),
    ]
    cust = spark.createDataFrame(
        rows, "c_custkey long, c_nationkey long, c_mktsegment string, c_acctbal double"
    )
    orig = cq.load_table
    cq.load_table = lambda spark, sf_dir, name: cust
    try:
        got = {
            (r.c_nationkey, r.c_mktsegment): r
            for r in cq.l_diversity_profile(spark, "x").collect()
        }
    finally:
        cq.load_table = orig
    expect = {
        (1, "AUTOMOBILE"): (4, 1, 1.0, False),
        (2, "BUILDING"): (4, 3, 0.5, True),
        (3, "FURNITURE"): (2, 2, 0.5, False),
    }
    assert set(got) == set(expect)
    for k, (size, l, share, div) in expect.items():
        r = got[k]
        assert (r.class_size, r.l_distinct, r.modal_share, r.diverse) == (
            size, l, share, div,
        ), k


def test_t_closeness_hand_case(spark):
    """Hand-computed t-closeness (out-of-family rule): two buckets
    (B=2, den = n_c*N), global split 6/6 over N=12. Class A sits all
    in bucket 0: cum gap |4*12 - 6*4| = 24 at b0, 0 at b1 -> EMD
    24/48 = 0.5, breach (5*24 > 48). Class B mirrors in bucket 1 —
    same EMD by symmetry. Class C matches the global 50/50 split
    exactly -> EMD 0.0, no breach."""
    import anti_money_laundering_spark.plans.curation_queries as cq

    rows = []
    rows += [(i, 1, "AUTOMOBILE", 500.00) for i in range(4)]          # A: 4x b0
    rows += [(10 + i, 2, "BUILDING", 1500.00) for i in range(4)]      # B: 4x b1
    rows += [(20, 3, "FURNITURE", 500.00), (21, 3, "FURNITURE", 600.00),
             (22, 3, "FURNITURE", 1500.00), (23, 3, "FURNITURE", 1600.00)]  # C: 2/2
    cust = spark.createDataFrame(
        rows, "c_custkey long, c_nationkey long, c_mktsegment string, c_acctbal double"
    )
    orig = cq.load_table
    cq.load_table = lambda spark, sf_dir, name: cust
    try:
        got = {
            (r.c_nationkey, r.c_mktsegment): r
            for r in cq.t_closeness_profile(spark, "x").collect()
        }
    finally:
        cq.load_table = orig
    expect = {
        (1, "AUTOMOBILE"): (4, 0.5, True),
        (2, "BUILDING"): (4, 0.5, True),
        (3, "FURNITURE"): (4, 0.0, False),
    }
    assert set(got) == set(expect)
    for k, (size, emd, breach) in expect.items():
        r = got[k]
        assert (r.class_size, r.emd, r.t_breach) == (size, emd, breach), k


def test_structuring_aggregation_hand_case(spark):
    """Hand-computed smurfing-day alert (out-of-family rule): user 1
    shaves 95.00 + 96.00 at exactly 24h apart — the inclusive RANGE
    edge makes them one window, sum 19100 >= 19000: alert with 1
    smurf event. User 2's second shave lands one microsecond past the
    24h edge — no alert, filtered out. User 3 has two shaves in one
    hour summing 18000 (two at 90.00) — count passes, aggregate one
    thousand cents short: no alert. User 4's big OVER-threshold
    transfers (150.00) never enter the band at all."""
    import datetime as dt

    import anti_money_laundering_spark.plans.feature_queries as fq

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    h = dt.timedelta(hours=1)
    us1 = dt.timedelta(microseconds=1)
    rows = [
        (1, t0, 1, 95.00), (2, t0 + 24 * h, 1, 96.00),
        (3, t0, 2, 95.00), (4, t0 + 24 * h + us1, 2, 96.00),
        (5, t0, 3, 90.00), (6, t0 + 1 * h, 3, 90.00),
        (7, t0, 4, 150.00), (8, t0 + 1 * h, 4, 150.00),
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, "transfer", v, None) for i, ts, u, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: ev
    try:
        got = {r.user_id: r for r in fq.structuring_aggregation_alerts(spark, "x").collect()}
    finally:
        fq.load_table = orig
    assert set(got) == {1}
    r = got[1]
    assert (r.n_band_txns, r.n_smurf_events, r.max_24h_band_count,
            r.max_24h_band_cents) == (2, 1, 2, 19100)


def test_coordinated_amount_clusters_hand_case(spark):
    """Hand-computed coordination screen: 3 distinct users moving the
    identical 950.00 on one day flag (n_senders=3, n_events=4 — one
    user repeats, distinct still 3); 2 users at 500.00 don't; 1 user
    firing 300.00 five times doesn't (distinct=1); and 3 users at
    720.00 SPLIT ACROSS two days (2 + 1) don't — the cell is
    (amount, day), not amount alone."""
    import datetime as dt

    import anti_money_laundering_spark.plans.feature_queries as fq

    d1 = dt.datetime(2024, 3, 1, 9, 0, 0)
    d2 = dt.datetime(2024, 3, 2, 9, 0, 0)
    h = dt.timedelta(hours=1)
    rows = [
        (1, d1, 101, 950.00), (2, d1 + h, 102, 950.00),
        (3, d1 + 2 * h, 103, 950.00), (4, d1 + 3 * h, 101, 950.00),
        (5, d1, 201, 500.00), (6, d1 + h, 202, 500.00),
        (7, d1, 301, 300.00), (8, d1 + h, 301, 300.00),
        (9, d1 + 2 * h, 301, 300.00), (10, d1 + 3 * h, 301, 300.00),
        (11, d1 + 4 * h, 301, 300.00),
        (12, d1, 401, 720.00), (13, d1 + h, 402, 720.00),
        (14, d2, 403, 720.00),
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, "transfer", v, None) for i, ts, u, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: ev
    try:
        got = {
            (r.cents, r.day): r
            for r in fq.coordinated_amount_clusters(spark, "x").collect()
        }
    finally:
        fq.load_table = orig
    assert set(got) == {(95000, "2024-03-01")}
    r = got[(95000, "2024-03-01")]
    assert (r.n_senders, r.n_events, r.total_cents) == (3, 4, 380000)


def test_coordinated_sliding_windows_hand_case(spark):
    """Hand-computed sliding-grid screen (out-of-family rule), pinning
    the exact evasion case the r12 50M stress exposed: a 3-sender ring
    at 880.00 firing 23:00 / 23:30 / 00:30 UTC STRADDLES midnight — the
    calendar grid splits it 2+1 (base screen silent, asserted here) but
    the noon-offset window [03-01 12:00, 03-02 12:00) holds it whole
    and flags n_senders=3. A ring fully inside one morning flags in
    BOTH grids (two rows — documented duplicate-cell semantics). A ring
    STRETCHED past the 12h guarantee (11:00 / 18:00 / next-day 01:00
    spans 14h, crossing both a noon and a midnight boundary) evades
    both grids — the structural limit the docstring states. tz-aware
    UTC instants per the r12 createDataFrame-timezone lesson."""
    import datetime as dt

    import anti_money_laundering_spark.plans.feature_queries as fq

    utc = dt.timezone.utc
    t = lambda d, hh, mm=0: dt.datetime(2024, 3, d, hh, mm, tzinfo=utc)  # noqa: E731
    rows = [
        # midnight-straddling ring, span 1.5h — the evasion case
        (1, t(1, 23), 101, 880.00),
        (2, t(1, 23, 30), 102, 880.00),
        (3, t(2, 0, 30), 103, 880.00),
        # fully-inside-day ring — flags in both grids
        (4, t(1, 9), 201, 950.00),
        (5, t(1, 10), 202, 950.00),
        (6, t(1, 11), 203, 950.00),
        # only 2 distinct senders — never flags
        (7, t(1, 9), 301, 500.00),
        (8, t(1, 10), 302, 500.00),
        # 14h-span ring crossing noon AND midnight — evades both grids
        (9, t(1, 11), 401, 640.00),
        (10, t(1, 18), 402, 640.00),
        (11, t(2, 1), 403, 640.00),
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, "transfer", v, None) for i, ts, u, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: ev
    try:
        base = {
            (r.cents, r.day)
            for r in fq.coordinated_amount_clusters(spark, "x").collect()
        }
        got = {
            (r.cents, r.win_start): r
            for r in fq.coordinated_sliding_windows(spark, "x").collect()
        }
    finally:
        fq.load_table = orig
    # the base calendar screen sees ONLY the fully-inside-day ring
    assert base == {(95000, "2024-03-01")}
    assert set(got) == {
        (88000, "2024-03-01 12:00"),   # the midnight ring, caught whole
        (95000, "2024-03-01 00:00"),   # inside-day ring, calendar grid
        (95000, "2024-02-29 12:00"),   # inside-day ring, offset grid
    }
    r = got[(88000, "2024-03-01 12:00")]
    assert (r.n_senders, r.n_events, r.total_cents) == (3, 3, 264000)
    for k in ((95000, "2024-03-01 00:00"), (95000, "2024-02-29 12:00")):
        assert (got[k].n_senders, got[k].n_events) == (3, 3)


def test_trade_mispricing_hand_case(spark):
    """Hand-computed TBML screen (out-of-family rule). Part 1: three
    trades at 10.00/unit and one at 25.00/unit — the 25 is >= 2x the
    LOO max (10) and flags 'over'; the 10s see loo_max=25 and never
    flag. Part 2: three at 20.00/unit and one at 4.00/unit (8.00 for
    qty 2 — the div identity's exact path) — 2*4 <= 20 flags 'under'.
    Part 3: TWO trades at the same inflated price above two cheap
    ones — ties at the extreme compare against the extreme itself and
    structurally cannot flag (coordinated pairs hide each other; the
    documented LOO semantics). Part 4: n=3 < min trades — excluded
    even with a 10x outlier. Rounding: qty 3 at 10.00 gives
    um = round_half_up(1e9 / 3) = 333333333, exact on the div
    identity."""
    import anti_money_laundering_spark.plans.feature_queries as fq

    rows = [
        # (orderkey, linenumber, partkey, qty, extendedprice)
        (1, 1, 1, 1.0, 10.00), (1, 2, 1, 1.0, 10.00),
        (2, 1, 1, 3.0, 30.00), (2, 2, 1, 1.0, 25.00),
        (3, 1, 2, 1.0, 20.00), (3, 2, 2, 1.0, 20.00),
        (4, 1, 2, 1.0, 20.00), (4, 2, 2, 2.0, 8.00),
        (5, 1, 3, 1.0, 10.00), (5, 2, 3, 1.0, 10.00),
        (6, 1, 3, 1.0, 50.00), (6, 2, 3, 1.0, 50.00),
        (7, 1, 4, 1.0, 10.00), (7, 2, 4, 1.0, 10.00),
        (8, 1, 4, 1.0, 100.00),
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_partkey long, "
        "l_quantity double, l_extendedprice double",
    )
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: li
    try:
        got = {
            (r.l_orderkey, r.l_linenumber): r
            for r in fq.trade_mispricing_alerts(spark, "x").collect()
        }
    finally:
        fq.load_table = orig
    assert set(got) == {(2, 2), (4, 2)}
    over = got[(2, 2)]
    # 25.00/unit vs LOO max 10.00/unit (qty-3 trade = 333333333 exact)
    assert (over.side, over.unit_micro, over.loo_bound, over.n_trades) == (
        "over", 2_500_000_000, 1_000_000_000, 4
    )
    under = got[(4, 2)]
    # 4.00/unit vs LOO min 20.00/unit
    assert (under.side, under.unit_micro, under.loo_bound) == (
        "under", 400_000_000, 2_000_000_000
    )


def test_corridor_concentration_hand_case(spark):
    """Hand-computed corridor screen: two corridors — (ALPHA -> ALPHA)
    carrying 1000.00 and (ALPHA -> BETA) carrying 100.00. Mean corridor
    = 550.00; the 1.25x-mean alert line is 687.50, so exactly the
    domestic corridor flags, with its cents and txn count exact."""
    import anti_money_laundering_spark.plans.feature_queries as fq

    nation = spark.createDataFrame(
        [(0, "ALPHA", 0), (1, "BETA", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    customer = spark.createDataFrame(
        [(10, "c10", 0, 0.0, "BUILDING")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )
    supplier = spark.createDataFrame(
        [(20, "s20", 0, 0.0), (21, "s21", 1, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    t0 = dt.datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [(100, 10, "O", 1100.0, t0, "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    lineitem = spark.createDataFrame(
        [
            (100, 1, 20, 1, 1.0, 600.00, 0.0, 0.0, "N", "O", t0),
            (100, 1, 20, 2, 1.0, 400.00, 0.0, 0.0, "N", "O", t0),
            (100, 1, 21, 3, 1.0, 100.00, 0.0, 0.0, "N", "O", t0),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    tables = {
        "nation": nation, "customer": customer, "supplier": supplier,
        "orders": orders, "lineitem": lineitem,
    }
    orig = fq.load_table
    fq.load_table = lambda spark, sf_dir, name: tables[name]
    try:
        got = {
            (r.cust_nation, r.supp_nation): r
            for r in fq.corridor_concentration_alerts(spark, "x").collect()
        }
    finally:
        fq.load_table = orig
    assert set(got) == {("ALPHA", "ALPHA")}
    r = got[("ALPHA", "ALPHA")]
    assert (r.corridor_cents, r.n_txns) == (100000, 2)


def test_funds_tracing_hand_case(spark):
    """Hand-computed time-respecting tracing, pinning the cross-hop
    pruning trap the implementation's exact-level design avoids: seed 1
    reaches account 2 BOTH directly (1 hop, arriving t=10) and through
    account 4 (2 hops, arriving t=6). The onward edge 2 -> 5 fires at
    t=8 — usable only from the EARLY 2-hop arrival, so 5's true
    min_hops is 3. A best-so-far prune (arr=6 tagged hop 1) would
    claim min_hops=2. Also pins: strict time ordering (3's onward edge
    at exactly its arrival instant traces nothing) and that first_us
    is the earliest arrival over <= 3 hops regardless of which hop
    count achieved it (node 2: min_hops=1 but first_us from the 2-hop
    path)."""
    import anti_money_laundering_spark.plans.graph_queries as gq

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def t(s):
        return base + dt.timedelta(seconds=s)

    def us(s):
        return int(t(s).timestamp()) * 1_000_000

    # (event_id, ts, src_user, value, dst_in_props) — value > 140 makes
    # a flow edge; value > 200 makes the sender a trace seed.
    rows = [
        (1, t(10), 1, 250.00, 2),   # seed-qualifying AND edge 1->2 @10
        (2, t(5), 1, 150.00, 4),    # edge 1->4 @5
        (3, t(6), 4, 150.00, 2),    # edge 4->2 @6  (2-hop early arrival)
        (4, t(8), 2, 150.00, 5),    # edge 2->5 @8  (needs arrival < 8)
        (5, t(20), 1, 150.00, 3),   # edge 1->3 @20
        (6, t(20), 3, 150.00, 8),   # edge 3->8 @20 == arrival: unusable
        (7, t(1), 6, 150.00, 7),    # disconnected from any seed
        (8, t(2), 9, 130.00, 1),    # sub-band: not a flow edge at all
    ]
    ev = spark.createDataFrame(
        [
            (i, ts, u, "transfer", v, '{"k": %d}' % k)
            for i, ts, u, v, k in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import anti_money_laundering_spark.plans.fixture_graphs as fg

    # the trace derives edges through fixture_graphs.flow_graph (the
    # shared flow-edge rule), so BOTH load_table seams get the frame
    orig, orig_fg = gq.load_table, fg.load_table
    gq.load_table = fg.load_table = lambda spark, sf_dir, name: ev
    try:
        got = {
            (r.seed, r.node): r
            for r in gq.funds_tracing_alerts(spark, "x").collect()
        }
    finally:
        gq.load_table, fg.load_table = orig, orig_fg
    assert set(got) == {(1, 2), (1, 3), (1, 4), (1, 5)}
    assert (got[(1, 2)].min_hops, got[(1, 2)].first_us) == (1, us(6))
    assert (got[(1, 3)].min_hops, got[(1, 3)].first_us) == (1, us(20))
    assert (got[(1, 4)].min_hops, got[(1, 4)].first_us) == (1, us(5))
    assert (got[(1, 5)].min_hops, got[(1, 5)].first_us) == (3, us(8))


def test_funds_roundtrip_hand_case(spark):
    """Hand-computed round-trip screen, pinning the hop-1 self-edge
    mask trap the aggregate=False formulation exists for: seed 1 has a
    SELF-EDGE at t=5 (hop-1 "return" — a self-payment event, not a
    round trip) AND a genuine 2-hop loop 1 -> 2 -> 1 closing at t=20;
    it must flag with return_hops=2 (a min_hops aggregate would have
    collapsed the self-edge and the loop into min_hops=1 and the
    hop >= 2 filter would wrongly drop the seed). Seed 7 has ONLY a
    self-edge and must not flag."""
    import anti_money_laundering_spark.plans.graph_queries as gq

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def t(s):
        return base + dt.timedelta(seconds=s)

    def us(s):
        return int(t(s).timestamp()) * 1_000_000

    rows = [
        (1, t(5), 1, 150.00, 1),    # self-edge 1->1 @5 (hop-1, not a loop)
        (2, t(10), 1, 250.00, 2),   # seed event AND edge 1->2 @10
        (3, t(20), 2, 150.00, 1),   # 2->1 @20: genuine 2-hop return
        (4, t(1), 7, 250.00, 7),    # seed 7: ONLY a self-edge
    ]
    ev = spark.createDataFrame(
        [
            (i, ts, u, "transfer", v, '{"k": %d}' % k)
            for i, ts, u, v, k in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import anti_money_laundering_spark.plans.fixture_graphs as fg

    # the trace derives edges through fixture_graphs.flow_graph (the
    # shared flow-edge rule), so BOTH load_table seams get the frame
    orig, orig_fg = gq.load_table, fg.load_table
    gq.load_table = fg.load_table = lambda spark, sf_dir, name: ev
    try:
        got = {
            r.seed: r for r in gq.funds_roundtrip_alerts(spark, "x").collect()
        }
    finally:
        gq.load_table, fg.load_table = orig, orig_fg
    assert set(got) == {1}
    assert (got[1].return_hops, got[1].first_return_us) == (2, us(20))
