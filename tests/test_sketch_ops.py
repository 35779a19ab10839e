"""Unit/property tests for the r7-continuation operators: heavy
hitters (sketch.py), the interval-overlap join and the
edit-distance (SymSpell) join (operators/)."""

from __future__ import annotations

import datetime as dt
import functools
import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from anti_money_laundering_spark.operators import edit_distance_join, interval_overlap_join
from anti_money_laundering_spark.sketch import heavy_hitters

T = dt.datetime


def _lev(a: str, b: str) -> int:
    @functools.lru_cache(maxsize=None)
    def d(i: int, j: int) -> int:
        if i == 0:
            return j
        if j == 0:
            return i
        return min(d(i - 1, j) + 1, d(i, j - 1) + 1, d(i - 1, j - 1) + (a[i - 1] != b[j - 1]))

    return d(len(a), len(b))


# ---------------------------------------------------------------------------
# heavy_hitters
# ---------------------------------------------------------------------------


def test_heavy_hitters_equals_group_by_having_on_zipf(spark):
    rng = random.Random(7)
    rows = [(f"k{min(int(1 / rng.random()), 400)}",) for _ in range(30000)]
    rows += [(None,)] * 50  # null keys count toward total, never hit
    df = spark.createDataFrame(rows, "key string").repartition(8)
    n = len(rows)
    exact = Counter(k for (k,) in rows if k is not None)
    for phi in (0.005, 0.02):
        got = {
            r.key: (r.cnt, r.total)
            for r in heavy_hitters(df, ["key"], phi).collect()
        }
        want = {k: v for k, v in exact.items() if v > phi * n}
        assert set(got) == set(want)
        assert all(got[k] == (want[k], n) for k in want)


def test_heavy_hitters_multi_column_and_uniform_edge(spark):
    rows = [(f"k{i % 50}", i % 3) for i in range(6000)]
    df = spark.createDataFrame(rows, "key string, g int").repartition(5)
    exact = Counter(rows)
    got = {
        (r.key, r.g): r.cnt
        for r in heavy_hitters(df, ["key", "g"], 0.005).collect()
    }
    want = {k: v for k, v in exact.items() if v > 0.005 * len(rows)}
    assert got == want
    # uniform distribution under a high phi: no hitters, empty result
    assert heavy_hitters(df, ["key", "g"], 0.2).count() == 0


def test_heavy_hitters_bucket_collision_pressure(spark):
    """num_buckets far below the key cardinality floods every bucket
    over threshold — the filter passes everything through and the
    recount must still produce the exact answer."""
    rng = random.Random(13)
    rows = [("hot",)] * 1500 + [(f"t{rng.randrange(500)}",) for _ in range(6000)]
    df = spark.createDataFrame(rows, "key string").repartition(6)
    got = {
        r.key: r.cnt
        for r in heavy_hitters(df, ["key"], 0.1, num_buckets=4).collect()
    }
    assert got == {"hot": 1500}


def test_heavy_hitters_guards(spark):
    df = spark.range(5).select(F.col("id").cast("string").alias("k"))
    with pytest.raises(ValueError, match="phi"):
        heavy_hitters(df, ["k"], 0.0)
    with pytest.raises(ValueError, match="num_buckets"):
        heavy_hitters(df, ["k"], 0.1, num_buckets=1)


# ---------------------------------------------------------------------------
# interval_overlap_join
# ---------------------------------------------------------------------------


def _rand_intervals(rng, n, keys, max_len_min=90):
    base = T(2024, 3, 1)
    out = []
    for i in range(n):
        lo = base + dt.timedelta(minutes=rng.randrange(0, 3000))
        hi = lo + dt.timedelta(minutes=rng.randrange(0, max_len_min))
        out.append((i, rng.choice(keys), lo, hi))
    return out


def test_interval_overlap_join_equals_theta_join(spark):
    rng = random.Random(3)
    L = spark.createDataFrame(
        _rand_intervals(rng, 120, ["a", "b", "c"]), "lid int, k string, l_lo timestamp, l_hi timestamp"
    )
    R = spark.createDataFrame(
        _rand_intervals(rng, 150, ["a", "b", "c", "d"]), "rid int, k string, r_lo timestamp, r_hi timestamp"
    )
    got = sorted(
        (r.lid, r.rid)
        for r in interval_overlap_join(
            L, R, by=["k"], left_span=("l_lo", "l_hi"), right_span=("r_lo", "r_hi"),
            bucket_width_seconds=1800,
        ).collect()
    )
    brute = sorted(
        (r.lid, r.rid)
        for r in L.join(R, "k")
        .filter(F.greatest("l_lo", "r_lo") < F.least("l_hi", "r_hi"))
        .collect()
    )
    assert got == brute
    assert len(got) == len(set(got)), "bucketized join emitted duplicate pairs"


def test_interval_overlap_join_edges(spark):
    L = spark.createDataFrame(
        [
            (1, "a", T(2024, 1, 1, 10), T(2024, 1, 1, 11)),
            (2, "a", T(2024, 1, 1, 12), T(2024, 1, 1, 12)),  # zero-length
            (3, "a", None, T(2024, 1, 1, 13)),  # NULL bound: no match
        ],
        "lid int, k string, l_lo timestamp, l_hi timestamp",
    )
    R = spark.createDataFrame(
        [
            (10, "a", T(2024, 1, 1, 10, 30), T(2024, 1, 1, 13)),
            (11, "a", T(2024, 1, 1, 11), T(2024, 1, 1, 11, 30)),  # touches 1: no overlap
        ],
        "rid int, k string, r_lo timestamp, r_hi timestamp",
    )
    out = interval_overlap_join(
        L, R, by=["k"], left_span=("l_lo", "l_hi"), right_span=("r_lo", "r_hi"),
        bucket_width_seconds=3600,
    )
    assert sorted((r.lid, r.rid) for r in out.collect()) == [(1, 10)]


def test_interval_overlap_join_rejects_colliding_span_names(spark):
    df = spark.createDataFrame([(1, T(2024, 1, 1), T(2024, 1, 2))], "id int, lo timestamp, hi timestamp")
    with pytest.raises(ValueError, match="collide"):
        interval_overlap_join(df, df, by=[], left_span=("lo", "hi"), right_span=("lo", "hi"))


def test_interval_overlap_join_inverted_interval_raises(spark):
    L = spark.createDataFrame(
        [(1, T(2024, 1, 2), T(2024, 1, 1))], "lid int, l_lo timestamp, l_hi timestamp"
    )
    R = spark.createDataFrame(
        [(2, T(2024, 1, 1), T(2024, 1, 2))], "rid int, r_lo timestamp, r_hi timestamp"
    )
    out = interval_overlap_join(
        L, R, by=[], left_span=("l_lo", "l_hi"), right_span=("r_lo", "r_hi")
    )
    with pytest.raises(Exception, match="inverted interval"):
        out.collect()


# ---------------------------------------------------------------------------
# edit_distance_join
# ---------------------------------------------------------------------------


def _rand_words(rng, n, alphabet="abc", lo=0, hi=8):
    return [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(lo, hi))) for _ in range(n)
    ]


@pytest.mark.parametrize("k", [1, 2])
def test_edit_distance_join_equals_bruteforce(spark, k):
    """Small alphabet forces dense near-collisions, including the
    transposition/empty-string edge family."""
    rng = random.Random(5 + k)
    A = [(i, w) for i, w in enumerate(_rand_words(rng, 60))]
    B = [(i, w) for i, w in enumerate(_rand_words(rng, 60))]
    dfa = spark.createDataFrame(A, "ida int, name string")
    dfb = spark.createDataFrame(B, "idb int, name string")
    out = edit_distance_join(dfa, dfb, on="name", max_distance=k)
    got = sorted((r.ida, r.idb, r.dist) for r in out.collect())
    want = sorted(
        (ia, ib, _lev(wa, wb)) for ia, wa in A for ib, wb in B if _lev(wa, wb) <= k
    )
    assert got == want
    assert len(got) == len({(a, b) for a, b, _ in got}), "duplicate candidate pairs leaked"


def test_edit_distance_join_by_keys_partition_the_space(spark):
    rows_l = [(1, "g1", "abcd"), (2, "g2", "abcd")]
    rows_r = [(10, "g1", "abxd"), (11, "g2", "zzzz")]
    dfl = spark.createDataFrame(rows_l, "idl int, g string, name string")
    dfr = spark.createDataFrame(rows_r, "idr int, g string, name string")
    out = edit_distance_join(dfl, dfr, on="name", max_distance=1, by=["g"])
    assert sorted((r.idl, r.idr) for r in out.collect()) == [(1, 10)]


def test_edit_distance_join_guards(spark):
    df = spark.createDataFrame([(1, "ab")], "id int, name string")
    with pytest.raises(ValueError, match="max_distance"):
        edit_distance_join(df, df, on="name", max_distance=3)
    with pytest.raises(ValueError, match="ambiguous"):
        edit_distance_join(df, df, on="name")  # `id` collides across sides
    long_df = spark.createDataFrame([(1, "x" * 100)], "idl int, name string")
    other = spark.createDataFrame([(2, "y")], "idr int, name string")
    with pytest.raises(Exception, match="max_length"):
        edit_distance_join(long_df, other, on="name", max_distance=1).collect()


# ---------------------------------------------------------------- bloom


def test_bloom_no_false_negatives_and_fpr_bound(spark):
    """Every built key must probe TRUE (deterministic contract); the
    measured false-positive rate on disjoint keys must sit under ~2x
    the analytic (1 - e^(-kn/m))^k."""
    import math

    from anti_money_laundering_spark.sketch import bloom_filter, bloom_might_contain

    n, m, k = 2000, 1 << 14, 4
    dim = spark.range(n).select((F.col("id") * 7 + 3).alias("key"))
    words = bloom_filter(dim, ["key"], num_bits=m, num_hashes=k)
    probe = bloom_might_contain(words, ["key"], num_bits=m, num_hashes=k)
    assert dim.filter(~probe).count() == 0
    # disjoint domain: keys the builder never saw
    outside = spark.range(20000).select((F.col("id") + 10_000_000).alias("key"))
    fp = outside.filter(probe).count() / 20000
    analytic = (1 - math.exp(-k * n / m)) ** k
    assert fp <= 2 * analytic + 0.01, (fp, analytic)


def test_bloom_semi_join_equals_plain_semi_join(spark):
    from anti_money_laundering_spark.sketch import bloom_semi_join

    fact = spark.range(5000).select(
        (F.pmod(F.xxhash64("id"), F.lit(997))).alias("k"), F.col("id").alias("v")
    )
    dim = spark.range(200).select((F.col("id") * 5).alias("dk"))
    got = bloom_semi_join(fact, ["k"], dim, ["dk"], num_bits=1 << 10, num_hashes=3)
    want = fact.join(dim.select(F.col("dk").alias("k")), "k", "left_semi")
    assert sorted((r.k, r.v) for r in got.collect()) == sorted(
        (r.k, r.v) for r in want.collect()
    )
    # inexact mode returns a superset containing every true match
    loose = bloom_semi_join(
        fact, ["k"], dim, ["dk"], num_bits=1 << 10, num_hashes=3, exact=False
    )
    got_loose = {(r.k, r.v) for r in loose.collect()}
    assert {(r.k, r.v) for r in want.collect()} <= got_loose
    # broadcast-join probe path (bitmap too wide for the literal probe)
    from anti_money_laundering_spark.sketch import _LITERAL_BLOOM_BITS

    wide = bloom_semi_join(
        fact, ["k"], dim, ["dk"], num_bits=_LITERAL_BLOOM_BITS * 2, num_hashes=3
    )
    assert sorted((r.k, r.v) for r in wide.collect()) == sorted(
        (r.k, r.v) for r in want.collect()
    )
    wide_loose = bloom_semi_join(
        fact, ["k"], dim, ["dk"],
        num_bits=_LITERAL_BLOOM_BITS * 2, num_hashes=3, exact=False,
    )
    assert {(r.k, r.v) for r in want.collect()} <= {
        (r.k, r.v) for r in wide_loose.collect()
    }


def test_bloom_param_guards(spark):
    from anti_money_laundering_spark.sketch import (
        _MAX_BLOOM_BITS,
        bloom_filter,
        bloom_might_contain,
    )

    df = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_filter(df, ["k"], num_bits=100)
    with pytest.raises(ValueError, match="no longer broadcasts"):
        bloom_filter(df, ["k"], num_bits=_MAX_BLOOM_BITS * 2)
    with pytest.raises(ValueError, match="num_hashes"):
        bloom_filter(df, ["k"], num_hashes=0)
    with pytest.raises(ValueError, match="word list"):
        bloom_might_contain([0] * 3, ["k"], num_bits=1 << 10)
    from anti_money_laundering_spark.sketch import _LITERAL_BLOOM_BITS

    with pytest.raises(ValueError, match="broadcast-join probe"):
        bloom_might_contain(
            [0] * ((_LITERAL_BLOOM_BITS * 2) >> 6), ["k"], num_bits=_LITERAL_BLOOM_BITS * 2
        )


def test_bloom_semi_join_multicol_string_and_null_keys(spark):
    """Composite string keys and NULL-bearing rows: NULLs hash like any
    value but can never match a SQL equi join — the exact post-join
    must drop them, matching plain semi-join semantics on both paths."""
    from anti_money_laundering_spark.sketch import _LITERAL_BLOOM_BITS, bloom_semi_join

    fact = spark.createDataFrame(
        [("a", "x", 1), ("a", None, 2), ("b", "y", 3), (None, "y", 4), ("c", "z", 5)],
        "k1 string, k2 string, v int",
    )
    dim = spark.createDataFrame(
        [("a", "x"), ("b", "y"), (None, "y"), ("d", "w")], "d1 string, d2 string"
    )
    want = sorted(
        (r.k1, r.k2, r.v)
        for r in fact.join(
            dim.select(F.col("d1").alias("k1"), F.col("d2").alias("k2")),
            ["k1", "k2"],
            "left_semi",
        ).collect()
    )
    assert want == [("a", "x", 1), ("b", "y", 3)]
    for bits in (1 << 10, _LITERAL_BLOOM_BITS * 2):
        got = sorted(
            (r.k1, r.k2, r.v)
            for r in bloom_semi_join(
                fact, ["k1", "k2"], dim, ["d1", "d2"], num_bits=bits, num_hashes=3
            ).collect()
        )
        assert got == want, bits


def test_bloom_filter_rejects_wide_bitmap_at_build_time(spark):
    """The driver-side word list only feeds the literal probe — a
    bitmap too wide for it must be rejected BEFORE the distributed
    build spends anything (second review pass)."""
    from anti_money_laundering_spark.sketch import _LITERAL_BLOOM_BITS, bloom_filter

    df = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="broadcast-join probe"):
        bloom_filter(df, ["k"], num_bits=_LITERAL_BLOOM_BITS * 2)


def test_watchlist_screen_hand_case(spark):
    """Hand-computed watchlist screen: listed entity 'ACME LLC'
    (custkey 398 = 2*199, on-list by the modulo rule) hits ITSELF
    (dist 0 — the listed entity is a customer, the primary sanctions
    hit) and the typo variant 'ACME LLC.' (dist 1); 'ACME INC'
    (dist 2) and an unrelated name do not hit; a near-identical pair
    of UNLISTED customers produces no row — the screen is
    list-vs-base, not a dedup pair join."""
    import anti_money_laundering_spark.plans.sketch_queries as sq

    cust = spark.createDataFrame(
        [
            (398, "ACME LLC", 0, 0.0, "BUILDING"),     # listed
            (5, "ACME LLC.", 0, 0.0, "BUILDING"),      # dist 1 hit
            (6, "ACME INC", 0, 0.0, "BUILDING"),       # dist 2: no hit
            (7, "ZENITH BANK", 0, 0.0, "BUILDING"),    # unrelated
            (8, "ORBIT FUND", 0, 0.0, "BUILDING"),     # unlisted near-pair
            (9, "ORBIT FUNDS", 0, 0.0, "BUILDING"),    # unlisted near-pair
        ],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )
    orig = sq.load_table
    sq.load_table = lambda spark, sf_dir, name: cust
    try:
        got = {
            (r.list_id, r.cust_id): r.dist
            for r in sq.watchlist_screen_hits(spark, "x").collect()
        }
    finally:
        sq.load_table = orig
    assert got == {(398, 398): 0, (398, 5): 1}
