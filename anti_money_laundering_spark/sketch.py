"""Bounded-memory summary operators for high-cardinality keys.

At 100 TB a plain ``GROUP BY`` on a high-cardinality key shuffles
every distinct key; when the question is only about the FREQUENT keys
(vocabulary heads, hot accounts, top URLs) the mergeable-summary
formulation shuffles almost nothing:

- **heavy_hitters** — exact phi-heavy-hitters in two passes: a
  candidate-generation pass whose shuffle is bounded by a fixed
  summary size (a two-hash count-min bucket histogram, all JVM
  codegen), then an exact recount restricted to the candidates.
  Output is EXACT (identical to GROUP BY ... HAVING count > phi *
  total) because the recount counts candidates exactly and the
  candidate filter guarantees a superset of the true heavy hitters.
  A plain GROUP BY stays faster while the distinct-key set shuffles
  comfortably — the sketch path exists for when it doesn't (billions
  of keys, executor-memory-bound hash maps).

The per-day/per-month HLL sketch rollup (the other reaggregatable
summary) composes directly from Spark's built-in ``hll_sketch_agg`` /
``hll_union_agg`` — see plans/sketch_queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["bloom_filter", "bloom_might_contain", "bloom_semi_join", "heavy_hitters"]


def heavy_hitters(
    df: DataFrame,
    cols: list[str],
    phi: float,
    num_buckets: int = 1 << 16,
) -> DataFrame:
    """All key tuples occurring in MORE than ``phi`` of ``df``'s rows,
    with their exact counts — identical to::

        SELECT cols, count(*) FROM df GROUP BY cols
        HAVING count(*) > phi * (SELECT count(*) FROM df)

    but without ever shuffling the full distinct-key set. Rows where
    any key column is NULL count toward the total but are never heavy
    hitters (SQL GROUP BY would emit them; a NULL key is a no-key).

    Output columns: ``cols`` + ``cnt`` (exact count) + ``total``
    (total rows scanned, the HAVING denominator).

    Candidates come from a two-hash count-min filter, all JVM codegen.
    One scan histograms ``xxhash64 % num_buckets`` under two
    independent hashes (map-side combine caps the shuffle at
    2*num_buckets rows per partition); a key whose true count exceeds
    phi*n forces BOTH its buckets over the threshold, so the recount
    runs only on keys both of whose buckets are heavy — false
    candidates fall off quadratically in the collision rate. The
    candidates are a guaranteed SUPERSET of the true hitters, and the
    exact recount makes the answer exact. The data is scanned exactly
    twice.
    """
    if not 0.0 < phi < 1.0:
        raise ValueError(f"heavy_hitters: phi must be in (0, 1), got {phi}")
    if num_buckets < 2:
        raise ValueError(f"heavy_hitters: num_buckets must be >= 2, got {num_buckets}")

    def _bucket(seed: int):
        return F.pmod(F.xxhash64(*[F.col(c) for c in cols], F.lit(seed)), F.lit(num_buckets))

    # One scan for both histograms: each row contributes one count to
    # its bucket under each hash (explode of a 2-element array). The
    # histogram frame is bounded (<= 2*num_buckets rows) and feeds
    # FOUR plan branches (total, the two heavy-bucket broadcasts, and
    # through them the final threshold) — lazily checkpointed so the
    # corpus scan + histogram agg run ONCE instead of once per branch
    # (r14; the r8/r9 tiny-frame-many-consumers rule, guide §2.4 —
    # AQE reuses identical exchanges, not duplicate static subtrees).
    hist = (
        df.select(
            F.explode(
                F.array(
                    F.struct(F.lit(1).alias("h"), _bucket(1).alias("b")),
                    F.struct(F.lit(2).alias("h"), _bucket(2).alias("b")),
                )
            ).alias("tb")
        )
        .groupBy(F.col("tb.h").alias("h"), F.col("tb.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("bcnt"))
        .localCheckpoint(eager=False)
    )
    total = hist.filter(F.col("h") == 1).agg(F.sum("bcnt").alias("total"))
    heavy = (
        hist.crossJoin(F.broadcast(total))
        .filter(F.col("bcnt") > F.lit(phi) * F.col("total"))
        .select("h", "b")
    )
    heavy1 = heavy.filter(F.col("h") == 1).select(F.col("b").alias("__b1"))
    heavy2 = heavy.filter(F.col("h") == 2).select(F.col("b").alias("__b2"))
    keys_present = F.lit(True)
    for c in cols:
        keys_present = keys_present & F.col(c).isNotNull()
    counts = (
        df.select(*cols)
        .withColumn("__b1", _bucket(1))
        .withColumn("__b2", _bucket(2))
        .join(F.broadcast(heavy1), "__b1", "left_semi")
        .join(F.broadcast(heavy2), "__b2", "left_semi")
        .groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counts.filter(keys_present)
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") > F.lit(phi) * F.col("total"))
    )


#: Largest bloom bitmap the builder will collect to the driver: 1<<27
#: bits = 16 MiB of longs — the same order as a broadcast-join side.
#: Past that, skip the bloom and let the semi join run plain.
_MAX_BLOOM_BITS = 1 << 27

#: Largest bitmap the probe ships as an in-plan array Literal. PySpark
#: builds list literals ELEMENT-WISE over py4j (measured 126 s for
#: 2^18 longs — vs ~2 s at this cap) and the resulting wide literal
#: also evaluates ~14x slower per row than a small one; past this the
#: probe switches to per-hash broadcast hash joins on the word index,
#: which stay JVM-side at any bitmap size.
_LITERAL_BLOOM_BITS = 1 << 18


def _bloom_positions(cols: list[str], num_bits: int, num_hashes: int, seed: int):
    """One bit position per hash: xxhash64(key..., seed+i) mod m —
    the classic k-independent-seeds construction, all JVM codegen."""
    return [
        F.pmod(F.xxhash64(*[F.col(c) for c in cols], F.lit(seed + i)), F.lit(num_bits))
        for i in range(num_hashes)
    ]


def _check_bloom_params(num_bits: int, num_hashes: int) -> None:
    if num_bits < 64 or num_bits % 64:
        raise ValueError(f"bloom: num_bits must be a multiple of 64 >= 64, got {num_bits}")
    if num_bits > _MAX_BLOOM_BITS:
        raise ValueError(
            f"bloom: num_bits {num_bits} > {_MAX_BLOOM_BITS}; a bitmap that "
            "size no longer broadcasts — run the plain semi join instead"
        )
    if not 1 <= num_hashes <= 16:
        raise ValueError(f"bloom: num_hashes must be in [1, 16], got {num_hashes}")


def bloom_filter(
    df: DataFrame,
    cols: list[str],
    num_bits: int = 1 << 18,
    num_hashes: int = 4,
    seed: int = 7,
) -> list[int]:
    """Build a Bloom filter over ``df``'s key tuples DISTRIBUTEDLY and
    return it as a dense ``num_bits // 64``-long word list.

    The build is one scan + one bounded shuffle: explode the k bit
    positions per row, map-side-combine ``bit_or`` of the per-word
    masks (at most ``num_bits/64`` rows per partition reach the
    shuffle), then collect the <= 16 MiB word table — the same driver
    round-trip shape as Spark's own injected runtime bloom filter
    (InjectRuntimeFilter broadcasts its sketch the same way; ours is
    explicit so the probe side can be a pure codegen'd literal lookup,
    since ``bloom_filter_agg`` is not SQL-registered in this build).
    Only literal-probe-sized bitmaps (``_LITERAL_BLOOM_BITS``) may be
    materialized driver-side — this function REJECTS wider ones at
    build time (its only probe partner, :func:`bloom_might_contain`,
    would reject them anyway, after the build cost had been paid);
    :func:`bloom_semi_join` keeps larger bitmaps distributed and
    probes them by broadcast join.

    NULL-containing key tuples hash like any value but can never match
    a SQL equi join — pair the probe with :func:`bloom_semi_join`'s
    exact post-join (its default) when NULLs are possible.
    """
    _check_bloom_params(num_bits, num_hashes)
    if num_bits > _LITERAL_BLOOM_BITS:
        raise ValueError(
            f"bloom: num_bits {num_bits} > {_LITERAL_BLOOM_BITS} is too wide "
            "for the literal probe this word list feeds; use bloom_semi_join's "
            "broadcast-join probe instead of materializing it"
        )
    rows = _bloom_bitmap_df(df, cols, num_bits, num_hashes, seed).collect()
    words = [0] * (num_bits >> 6)
    for r in rows:
        words[r.w] = r.bits
    return words


def bloom_might_contain(
    words: list[int],
    cols: list[str],
    num_bits: int = 1 << 18,
    num_hashes: int = 4,
    seed: int = 7,
):
    """Probe predicate for a :func:`bloom_filter` word list: TRUE iff
    every one of the key tuple's k bits is set. The bitmap rides the
    plan as an array Literal, so the filter runs JVM-side with zero
    joins and zero Python — but ONLY for small bitmaps: PySpark
    converts the word list element-wise over py4j at literal-creation
    time and a wide literal evaluates measurably slower per row, so
    this path is capped at ``_LITERAL_BLOOM_BITS``
    (:func:`bloom_semi_join` switches to broadcast-join probes past
    it)."""
    _check_bloom_params(num_bits, num_hashes)
    if num_bits > _LITERAL_BLOOM_BITS:
        raise ValueError(
            f"bloom: num_bits {num_bits} > {_LITERAL_BLOOM_BITS} is too wide "
            "for the literal probe (py4j literal creation is element-wise); "
            "use bloom_semi_join's broadcast-join probe"
        )
    if len(words) != num_bits >> 6:
        raise ValueError(f"bloom: word list has {len(words)} words, expected {num_bits >> 6}")
    arr = F.lit(words)
    cond = F.lit(True)
    for p in _bloom_positions(cols, num_bits, num_hashes, seed):
        word = F.element_at(arr, (F.shiftright(p, 6) + 1).cast("int"))
        mask = F.call_function("shiftleft", F.lit(1).cast("long"), F.pmod(p, F.lit(64)).cast("int"))
        cond = cond & (word.bitwiseAND(mask) != 0)
    return cond


def bloom_semi_join(
    fact: DataFrame,
    fact_keys: list[str],
    dim: DataFrame,
    dim_keys: list[str],
    num_bits: int = 1 << 18,
    num_hashes: int = 4,
    seed: int = 7,
    exact: bool = True,
) -> DataFrame:
    """``fact LEFT SEMI JOIN dim`` with a hand-rolled Bloom prefilter:
    build the filter over ``dim``'s keys distributedly, drop
    non-matching fact rows BEFORE the join, then (default) run the
    exact semi join over the survivors so the result is identical to
    the plain semi join — false positives only cost pruning
    efficiency, never correctness.

    Probe strategy is size-adaptive:

    - bitmaps up to ``_LITERAL_BLOOM_BITS``: bounded driver collect +
      a codegen'd in-plan literal lookup (zero joins);
    - larger bitmaps (up to ``_MAX_BLOOM_BITS``): the bitmap STAYS a
      DataFrame (one row per 64-bit word) and each of the k probes is
      a broadcast hash join on the word index with a bit test — each
      join drops its misses immediately, so later probes see an
      already-pruned fact. Measured at 20M fact rows the literal path
      at 2^24 bits cost 126 s of py4j literal construction alone;
      the broadcast-join path avoids driver materialization entirely.

    This is the manual form of the semi-join-reduction Catalyst's
    InjectRuntimeFilter applies to selective joins: at 100 TB the win
    is that the fact side's shuffle (or its probe of the broadcast
    dim) happens AFTER the bloom has dropped the ~(1-selectivity) of
    rows that cannot match. ``exact=False`` returns the prefiltered
    superset for pipelines that tolerate the bloom's false-positive
    rate (~(1 - e^(-kn/m))^k) in exchange for skipping the join."""
    _check_bloom_params(num_bits, num_hashes)
    if num_bits <= _LITERAL_BLOOM_BITS:
        words = bloom_filter(dim, dim_keys, num_bits, num_hashes, seed)
        pref = fact.filter(
            bloom_might_contain(words, fact_keys, num_bits, num_hashes, seed)
        )
    else:
        bitmap = _bloom_bitmap_df(dim, dim_keys, num_bits, num_hashes, seed)
        bitmap = bitmap.localCheckpoint(eager=False)  # build once, probe k times
        pref = fact
        for i, p in enumerate(
            _bloom_positions(fact_keys, num_bits, num_hashes, seed)
        ):
            w, m, b = f"__blw{i}", f"__blm{i}", f"__blb{i}"
            probe_map = bitmap.select(F.col("w").alias(w), F.col("bits").alias(b))
            pref = (
                pref.withColumn(w, F.shiftright(p, 6))
                .withColumn(
                    m,
                    F.call_function(
                        "shiftleft", F.lit(1).cast("long"), F.pmod(p, F.lit(64)).cast("int")
                    ),
                )
                .join(F.broadcast(probe_map), w, "left")
                .filter(F.col(b).isNotNull() & (F.col(b).bitwiseAND(F.col(m)) != 0))
                .drop(w, m, b)
            )
    if not exact:
        return pref
    rdim = dim.select(
        *[F.col(d).alias(f) for f, d in zip(fact_keys, dim_keys, strict=True)]
    )
    return pref.join(rdim, on=fact_keys, how="left_semi")


def _bloom_bitmap_df(
    df: DataFrame, cols: list[str], num_bits: int, num_hashes: int, seed: int
) -> DataFrame:
    """The distributed bitmap as ``(w, bits)`` rows — only words with
    at least one set bit appear (a missing word means "no member
    hashes here", which the probe join reads as a definite miss)."""
    return (
        df.select(
            F.explode(F.array(*_bloom_positions(cols, num_bits, num_hashes, seed))).alias("p")
        )
        .select(
            F.shiftright(F.col("p"), 6).alias("w"),
            F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
    )
