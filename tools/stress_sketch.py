#!/usr/bin/env python
"""Stress the r7-continuation operators past fixture scale:

- heavy_hitters over 20M rows / ~1M distinct Zipf keys — measures the
  bounded-memory claim: the candidate set (and thus the recount
  shuffle) must stay small while a plain GROUP BY would shuffle the
  full million-key dictionary. Prints the bucket filter's time next
  to the plain GROUP BY's, both with the same answer.
- interval_overlap_join over ~2M x 2M synthetic intervals — the
  bucketized equi-join must stay linear-ish in output size, never the
  per-key cartesian.
- edit_distance_join over ~200k strings (k=1) — deletion-neighborhood
  fan-out and candidate dedup at volume.

Inputs are synthesized with codegen expressions (spark.range + hash
arithmetic) — no driver-side data. Results go to SCALE.md §sketch.

Usage: python tools/stress_sketch.py [rows_millions]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from anti_money_laundering_spark.operators import (  # noqa: E402
    edit_distance_join,
    interval_overlap_join,
)
from anti_money_laundering_spark.session import get_spark  # noqa: E402
from anti_money_laundering_spark.sketch import heavy_hitters  # noqa: E402


def main() -> int:
    mrows = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    spark = get_spark(master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    n = mrows * 1_000_000

    # --- heavy hitters: Zipf-ish via reciprocal of a uniform hash ----
    # key = floor(1/u) capped at 1M distinct; the head key covers ~50%
    # of mass scaled down, tail is ~uniform — the adversarial shape for
    # a fixed-size summary.
    u = (F.pmod(F.xxhash64("id"), F.lit(1_000_000_003)) + 1) / 1_000_000_004.0
    keys = spark.range(n).select(
        F.concat(F.lit("k"), F.least(F.floor(1.0 / u), F.lit(1_000_000)).cast("long").cast("string")).alias("key")
    )
    phi = 1e-4
    t0 = time.time()
    hitters = heavy_hitters(keys, ["key"], phi=phi).count()
    t_hh = time.time() - t0
    t0 = time.time()
    exact = (
        keys.groupBy("key")
        .count()
        .filter(F.col("count") > phi * n)
        .count()
    )
    t_gb = time.time() - t0
    assert hitters == exact, (hitters, exact)
    print(
        f"heavy_hitters[zipf-1M-keys]: {n} rows, phi={phi} -> {exact} hitters; "
        f"bucket {t_hh:.1f}s / plain groupBy+HAVING {t_gb:.1f}s (same answer)"
    )

    # High-cardinality regime: ~all keys unique, 3 hot keys carrying
    # 0.1% of rows each — the case the sketch path exists for, where a
    # plain GROUP BY must shuffle every distinct key.
    wide = spark.range(n).select(
        F.when(
            F.pmod(F.xxhash64("id"), F.lit(1000)) < 3,
            F.concat(F.lit("hot"), F.pmod(F.xxhash64("id"), F.lit(1000)).cast("string")),
        )
        .otherwise(F.concat(F.lit("u"), F.col("id").cast("string")))
        .alias("key")
    )
    t0 = time.time()
    wide_hitters = heavy_hitters(wide, ["key"], phi=1e-4).count()
    t_hh2 = time.time() - t0
    t0 = time.time()
    wide_exact = wide.groupBy("key").count().filter(F.col("count") > 1e-4 * n).count()
    t_gb2 = time.time() - t0
    assert wide_hitters == wide_exact, (wide_hitters, wide_exact)
    print(
        f"heavy_hitters[~{n}-distinct]: {wide_exact} hitters; "
        f"bucket {t_hh2:.1f}s / plain groupBy+HAVING {t_gb2:.1f}s"
    )

    # --- interval overlap ------------------------------------------
    m = max(n // 10, 1_000_000)
    base = F.lit("2024-01-01 00:00:00").cast("timestamp")

    def intervals(seed: int, out_id: str, lo: str, hi: str):
        df = spark.range(m)
        start = F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(30 * 24 * 3600))
        length = F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(3600)) + 1
        return df.select(
            F.col("id").alias(out_id),
            F.pmod(F.xxhash64("id", F.lit(seed + 2)), F.lit(200_000)).alias("k"),
            F.timestamp_add("SECOND", start.cast("int"), base).alias(lo),
            F.timestamp_add("SECOND", (start + length).cast("int"), base).alias(hi),
        )

    L = intervals(1, "lid", "l_lo", "l_hi")
    R = intervals(7, "rid", "r_lo", "r_hi")
    t0 = time.time()
    pairs = interval_overlap_join(
        L, R, by=["k"], left_span=("l_lo", "l_hi"), right_span=("r_lo", "r_hi"),
        bucket_width_seconds=3600,
    ).count()
    t_ov = time.time() - t0
    print(f"interval_overlap_join: {m}x{m} intervals, 200k keys -> {pairs} pairs in {t_ov:.1f}s")

    # --- edit-distance join ----------------------------------------
    s = max(n // 100, 100_000)
    words = spark.range(s).select(
        F.col("id").alias("wid"),
        F.concat(
            F.lit("w"),
            F.conv(F.pmod(F.xxhash64("id"), F.lit(8 ** 6)).cast("string"), 10, 8),
        ).alias("name"),
    )
    lhs = words.withColumnRenamed("wid", "id_l")
    rhs = words.withColumnRenamed("wid", "id_r")
    t0 = time.time()
    ed = (
        edit_distance_join(lhs, rhs, on="name", max_distance=1)
        .filter(F.col("id_l") < F.col("id_r"))
        .count()
    )
    t_ed = time.time() - t0
    print(f"edit_distance_join k=1: {s} strings -> {ed} pairs in {t_ed:.1f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
