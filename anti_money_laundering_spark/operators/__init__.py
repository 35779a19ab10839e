"""Custom relational operators Spark lacks as primitives (SURVEY.md
§2.3 "not present" list → build-plan extensions §7.2).

- **as-of join** — for each left row, the single latest right row at
  or before its timestamp (direction='backward'; 'forward' mirrors).
  Implemented as union + ordered window fill: ONE shuffle on the `by`
  key, no join explosion, no per-left-row probe — the time-series
  join shape that survives 100 TB (both sides sort within the same
  partitioning; skew on a hot key is AQE-splittable).
- **range join** — left rows matched to right [lo, hi) intervals.
  Naive theta joins degenerate to per-key cartesians; here each
  interval is exploded onto fixed-width buckets and the join is an
  EQUI-join on (key, bucket) with an exact residual filter — the
  standard bucketized interval-join trick (what Databricks' range-join
  hints do under the hood).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "asof_join",
    "range_join",
    "interval_overlap_join",
    "edit_distance_join",
    "salted_join",
    "merge_into",
    "table_diff",
    "merge_aggregates",
    "profile_table",
    "expectations",
    "rrf_fuse",
    "skyline_2d",
    "bipartite_project",
]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    left_time: str = "ts",
    right_time: str | None = None,
    right_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
    how: str = "inner",
    suffix: str = "_matched",
) -> DataFrame:
    """As-of join: attach to every left row the nearest-in-time right
    row per ``by`` group (backward: greatest right_time <= left_time;
    forward: least right_time >= left_time; nearest: whichever of the
    two is closer in absolute time, ties going backward — pandas
    ``merge_asof(direction='nearest')`` semantics).

    Matched right columns come back as ``<col><suffix>`` plus
    ``<right_time><suffix>``. ``how='left'`` keeps unmatched left rows
    with nulls; ``tolerance_seconds`` voids matches farther than the
    tolerance.

    ``nearest`` costs one extra within-partition sort (the same
    union frame window-filled in both time orders — still ONE shuffle
    on ``by``, no join explosion).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be 'backward', 'forward' or 'nearest'")
    if how not in ("inner", "left"):
        raise ValueError("how must be 'inner' or 'left'")
    rt = right_time or left_time
    rcols = right_cols or [c for c in right.columns if c not in by and c != rt]

    # All matched right columns ride in ONE struct so a single
    # last(..., ignorenulls=True) fill picks every column from the SAME
    # right row — per-column fills would stitch a composite row when a
    # right column carries a genuine NULL (it would backfill from an
    # older right row while __rt came from the newer one).
    r_row = F.struct(*[F.col(c).alias(c) for c in rcols], F.col(rt).alias("__rt"))
    r_tagged = right.select(
        *by,
        F.col(rt).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(left.select(F.struct(*left.columns)).schema[0].dataType).alias("__lrow"),
        r_row.alias("__rrow"),
    )
    l_tagged = left.select(
        *by,
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.struct(*left.columns).alias("__lrow"),
        F.lit(None).cast(r_tagged.schema["__rrow"].dataType).alias("__rrow"),
    )
    both = l_tagged.unionByName(r_tagged)

    # Backward: ascending time, right rows (0) before left (1) at equal
    # timestamps so an exactly-simultaneous right row matches
    # (inclusive). Forward: descending time, same tag order. Nearest:
    # BOTH fills over the same partitioning (one shuffle, two sorts),
    # then pick the closer by absolute time, ties backward.
    def _fill(ascending: bool):
        t_order = F.col("__t").asc() if ascending else F.col("__t").desc()
        w = (
            Window.partitionBy(*by)
            .orderBy(t_order, F.col("__is_left").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return F.last("__rrow", ignorenulls=True).over(w)

    if direction == "nearest":
        with_fills = both.select(
            "__is_left", "__lrow", "__t",
            _fill(True).alias("__bw"), _fill(False).alias("__fw"),
        ).filter(F.col("__is_left") == 1)
        micros = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
        d_b = micros(F.col("__t")) - micros(F.col("__bw.__rt"))
        d_f = micros(F.col("__fw.__rt")) - micros(F.col("__t"))
        nearest = (
            F.when(F.col("__bw").isNull(), F.col("__fw"))
            .when(F.col("__fw").isNull(), F.col("__bw"))
            .when(d_f < d_b, F.col("__fw"))
            .otherwise(F.col("__bw"))
        )
        filled = with_fills.select(
            "__is_left", "__lrow", "__t", nearest.alias("__frow")
        )
    else:
        filled = both.select(
            "__is_left",
            "__lrow",
            "__t",
            _fill(direction == "backward").alias("__frow"),
        ).filter(F.col("__is_left") == 1)

    if tolerance_seconds is not None:
        delta = F.abs(
            F.unix_micros(F.col("__t").cast("timestamp"))
            - F.unix_micros(F.col("__frow.__rt").cast("timestamp"))
        ) / 1_000_000.0
        in_tol = F.col("__frow").isNotNull() & (delta <= tolerance_seconds)
        filled = filled.select(
            "__is_left",
            "__lrow",
            "__t",
            F.when(in_tol, F.col("__frow")).otherwise(F.lit(None)).alias("__frow"),
        )
    if how == "inner":
        filled = filled.filter(F.col("__frow").isNotNull())

    return filled.select(
        F.col("__lrow.*"),
        *[F.col(f"__frow.{c}").alias(f"{c}{suffix}") for c in rcols],
        F.col("__frow.__rt").alias(f"{rt}{suffix}"),
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    salt: int = 8,
    how: str = "inner",
    seed: int = 7,
    left_key: str | Column | None = None,
    keep_salt: bool = False,
) -> DataFrame:
    """Skew-mitigating equi-join: split each hot left key across
    ``salt`` sub-keys and replicate the right side once per sub-key, so
    one pathological key (the AML mule account with 10^8 transactions)
    spreads over ``salt`` reducers instead of stalling one.

    Left rows get a DETERMINISTIC salt in [0, salt) — the repo's md5
    hash-bucket discipline over ``left_key`` (a column spreading rows
    within a hot join key: an event id, a timestamp; defaults to the
    concat of ALL left columns, which is deterministic for any input
    but costs hashing the full row — pass a compact key in hot paths).
    Right rows are exploded onto all salt values; the join keys become
    ``on + [salt]``. Result is row-identical to
    ``left.join(right, on, how)`` for inner/left — the salt only
    changes WHERE rows meet, never which rows meet (asserted against
    the plain join in tests/test_operators.py).

    r5 verdict item 5: the salt was previously ``F.rand(seed)``, which
    depends on partition layout — re-running after a repartition moved
    rows to different reducers, defeating the "deterministic layout"
    use case this operator advertises. md5 over row content is a pure
    function of the data: same row, same reducer, any layout.

    CAP of the content-derived salt (inherent to ANY deterministic
    salt): byte-identical duplicate rows necessarily draw the same
    salt, so a hot key whose rows are indistinguishable (e.g. after a
    projection dropped the discriminating columns) still lands on one
    reducer. Pass a ``left_key`` that VARIES within the hot join key —
    an event id, a timestamp — whenever one exists; if rows are truly
    identical, aggregate the duplicates first (count them) or accept
    AQE's skew-split as the fallback.

    ``keep_salt=True`` retains the ``__salt`` column in the output so
    callers (and the determinism test) can observe assignments.

    This is the manual fallback when AQE's skew-join can't kick in
    (e.g. the skew only materializes after upstream transforms, or a
    deterministic layout is needed); cost = right side inflated
    ``salt``×, so keep the right side the smaller input.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'|'left'")
    from anti_money_laundering_spark.sampling import hash_bucket

    if left_key is None:
        key_col = F.concat_ws(
            "\x01", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in left.columns]
        )
    else:
        key_col = F.col(left_key) if isinstance(left_key, str) else left_key
    l_s = left.withColumn(
        "__salt", hash_bucket(key_col, buckets=salt, salt=f"salted-join-{seed}").cast("int")
    )
    r_s = right.withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    out = l_s.join(r_s, [*on, "__salt"], how)
    return out if keep_salt else out.drop("__salt")


def _time_bucket(col: str, bucket_width_seconds: int) -> Column:
    """Fixed-width time-bucket ordinal of a timestamp column.

    cast: unix_micros needs TIMESTAMP; NTZ inputs are interpreted in
    the session zone (UTC per session defaults)."""
    return F.floor(
        F.unix_micros(F.col(col).cast("timestamp"))
        / F.lit(1_000_000 * bucket_width_seconds)
    ).cast("long")


def _span_buckets(
    op: str, lo: str, hi: str, bucket_width_seconds: int, max_buckets_per_interval: int
) -> Column:
    """array<long> of the fixed-width buckets interval [lo, hi) covers.

    A NULL ``lo`` or ``hi`` yields an empty array (the row joins
    nothing — same outcome as exploding sequence(NULL,…), but explicit,
    and the error message can no longer be nulled out by the very NULL
    it reports); an inverted interval (``hi`` bucket < ``lo`` bucket)
    raises — F.sequence would otherwise emit a DESCENDING bucket list
    and silently join wrong buckets (ADVICE r3). Intervals spanning
    >= ``max_buckets_per_interval`` buckets raise with a clear message
    (one pathological interval would silently multiply shuffle volume);
    the fix is a wider bucket width, a global choice because both join
    sides must agree on the bucketing. The checks are codegen'd per-row
    expressions (no extra pass over the data)."""
    bw = bucket_width_seconds
    b_lo, b_hi = _time_bucket(lo, bw), _time_bucket(hi, bw)
    lo_s = F.coalesce(F.col(lo).cast("string"), F.lit("NULL"))
    hi_s = F.coalesce(F.col(hi).cast("string"), F.lit("NULL"))

    def _fail(prefix: str) -> Column:
        return F.raise_error(
            F.concat(F.lit(prefix), lo_s, F.lit(", hi="), hi_s, F.lit(")"))
        ).cast("array<long>")

    return (
        F.when(b_lo.isNull() | b_hi.isNull(), F.array().cast("array<long>"))
        .when(b_hi < b_lo, _fail(f"{op}: inverted interval [{lo}, {hi}) (lo="))
        .when(b_hi - b_lo < F.lit(max_buckets_per_interval), F.sequence(b_lo, b_hi))
        .otherwise(
            _fail(
                f"{op}: interval [{lo}, {hi}) spans >= "
                f"{max_buckets_per_interval} buckets of {bw}s — widen "
                "bucket_width_seconds (lo="
            )
        )
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    point: str,
    lo: str,
    hi: str,
    bucket_width_seconds: int = 3600,
    max_buckets_per_interval: int = 1000,
) -> DataFrame:
    """Join left rows (a ``point`` timestamp) to right intervals
    [lo, hi) sharing the ``by`` keys.

    Each interval is exploded onto the fixed-width time buckets it
    covers; points join their single bucket (equi-join on by+bucket),
    then the exact containment predicate filters residuals. Shuffle is
    keyed on (by, bucket) — never the per-key cartesian a plain theta
    join would shuffle. bucket_width should approximate the typical
    interval length (wider = fewer duplicates, narrower = less
    residual filtering).

    Fan-out guards and degenerate-interval semantics (NULL bounds
    no-match, inverted bounds raise, ``max_buckets_per_interval``
    ceiling): see ``_span_buckets``.
    """
    bw = bucket_width_seconds
    buckets = _span_buckets("range_join", lo, hi, bw, max_buckets_per_interval)
    l_b = left.withColumn("__bucket", _time_bucket(point, bw))
    r_b = right.withColumn("__bucket", F.explode(buckets))
    return (
        l_b.join(r_b, [*by, "__bucket"])
        .filter((F.col(point) >= F.col(lo)) & (F.col(point) < F.col(hi)))
        .drop("__bucket")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    left_span: tuple[str, str],
    right_span: tuple[str, str],
    bucket_width_seconds: int = 3600,
    max_buckets_per_interval: int = 1000,
) -> DataFrame:
    """Join left intervals to right intervals that OVERLAP them (the
    temporal overlap join: concurrent sessions, co-active windows),
    sharing the ``by`` keys. Half-open semantics: [a, b) overlaps
    [c, d) iff max(a, c) < min(b, d) (a nonempty intersection) —
    touching endpoints do NOT overlap, and zero-length intervals
    overlap nothing.

    Both sides explode onto the fixed-width time buckets their
    interval covers and the join is an EQUI-join on (by, bucket) with
    the exact overlap predicate as residual — never the per-key
    cartesian a theta join would shuffle. An overlapping pair shares
    every bucket the overlap region covers; rather than de-duplicating
    with a DISTINCT (a second full shuffle of the output), the pair is
    emitted ONLY in the bucket containing the overlap's start instant
    ``greatest(l_lo, r_lo)`` — a codegen'd residual filter, so each
    qualifying pair survives exactly once.

    The four span column names must be pairwise distinct (the output
    carries both intervals); pre-rename one side if needed. Project
    both inputs down to the columns you need before calling — every
    column rides the (by, bucket) shuffle. Fan-out guards and
    degenerate-interval semantics: see ``_span_buckets``.
    """
    l_lo, l_hi = left_span
    r_lo, r_hi = right_span
    names = [l_lo, l_hi, r_lo, r_hi]
    if len(set(names)) != 4:
        raise ValueError(f"interval_overlap_join: span column names collide: {names}")
    bw = bucket_width_seconds
    l_b = left.withColumn(
        "__bucket",
        F.explode(_span_buckets("interval_overlap_join", l_lo, l_hi, bw, max_buckets_per_interval)),
    )
    r_b = right.withColumn(
        "__bucket",
        F.explode(_span_buckets("interval_overlap_join", r_lo, r_hi, bw, max_buckets_per_interval)),
    )
    # greatest(lo) < least(hi) == nonempty intersection; the textbook
    # a < d AND c < b form wrongly admits zero-length intervals
    overlap = F.greatest(F.col(l_lo), F.col(r_lo)) < F.least(F.col(l_hi), F.col(r_hi))
    start_bucket = F.floor(
        F.unix_micros(F.greatest(F.col(l_lo), F.col(r_lo)).cast("timestamp"))
        / F.lit(1_000_000 * bw)
    ).cast("long")
    return (
        l_b.join(r_b, [*by, "__bucket"])
        .filter(overlap & (F.col("__bucket") == start_bucket))
        .drop("__bucket")
    )


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    max_distance: int = 1,
    by: list[str] | None = None,
    max_length: int = 64,
) -> DataFrame:
    """Exact edit-distance similarity join: all (left, right) row pairs
    whose ``on`` strings have levenshtein distance <= ``max_distance``
    (and whose ``by`` keys match). The string column must carry the
    same name on both sides; every other column must be disjoint
    across the sides (pre-suffix _l/_r) — the output carries
    ``{on}_l``, ``{on}_r``, ``dist`` and all pass-through columns.

    The all-pairs formulation is a cartesian; this is the FastSS /
    symmetric-deletion blocking (Bocek et al. 2007, the SymSpell
    scheme): two strings within edit distance k share at least one
    variant obtained by deleting <= k characters from each, so each
    side explodes onto its deletion neighborhood (1 + L variants per
    row at k=1, O(L^2) at k=2), candidates equi-join on (by, variant),
    and the exact ``levenshtein`` predicate verifies — precision 1 by
    construction, recall 1 by the deletion-neighborhood theorem.

    Variants are built from codegen'd substr/concat over an exploded
    position range — NOT a transform() lambda, which evaluates
    interpreted (~15x slower, round-7 winnowing lesson). A candidate
    pair can share several variants, so candidates are de-duplicated
    (one aggregation keyed on the pair) before the levenshtein check.

    ``max_length`` bounds the per-row fan-out with a per-row codegen'd
    guard (a single pathological long string at k=2 would explode
    quadratically); raise it deliberately. k is capped at 2 — beyond
    that the neighborhood is O(L^k) and LSH-style blocking
    (dedup.minhash) is the right tool.
    """
    if not 1 <= max_distance <= 2:
        raise ValueError(f"edit_distance_join: max_distance must be 1 or 2, got {max_distance}")
    by = list(by or [])
    dup = (set(left.columns) & set(right.columns)) - {on} - set(by)
    if dup:
        raise ValueError(f"edit_distance_join: ambiguous columns on both sides: {sorted(dup)}")

    def _variants(df: DataFrame, side: str) -> DataFrame:
        s = F.col(on)
        guarded = F.when(
            F.length(s) > max_length,
            F.raise_error(
                F.concat(
                    F.lit(f"edit_distance_join: {on} longer than max_length={max_length}: "),
                    F.substring(s, 1, max_length),
                )
            ),
        ).otherwise(s)
        # delete position 0 = the string itself; position i>0 = drop char i
        del1 = df.withColumn("__s", guarded).select(
            "*", F.explode(F.sequence(F.lit(0), F.length("__s"))).alias("__i")
        )
        v1 = F.when(F.col("__i") == 0, F.col("__s")).otherwise(
            F.concat(F.expr("substr(__s, 1, __i - 1)"), F.expr("substr(__s, __i + 1)"))
        )
        out = del1.withColumn("__v", v1).drop("__i")
        if max_distance == 2:
            out = out.select(
                "*", F.explode(F.sequence(F.lit(0), F.length("__v"))).alias("__j")
            )
            v2 = F.when(F.col("__j") == 0, F.col("__v")).otherwise(
                F.concat(F.expr("substr(__v, 1, __j - 1)"), F.expr("substr(__v, __j + 1)"))
            )
            out = out.withColumn("__v", v2).drop("__j")
        return out.drop("__s").withColumnRenamed(on, f"{on}_{side}").dropDuplicates()

    l_v = _variants(left, "l")
    r_v = _variants(right, "r")
    pair_cols = [c for c in l_v.columns if c != "__v"] + [
        c for c in r_v.columns if c != "__v" and c not in by
    ]
    return (
        l_v.join(r_v, [*by, "__v"])
        .drop("__v")
        .dropDuplicates(pair_cols)
        .withColumn("dist", F.levenshtein(F.col(f"{on}_l"), F.col(f"{on}_r")))
        .filter(F.col("dist") <= max_distance)
    )


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    matched_delete: Column | None = None,
    when_not_matched: str = "insert",
    validate_unique_source: bool = True,
    when_not_matched_by_source: str = "keep",
) -> DataFrame:
    """Batch MERGE (upsert): the Delta-Lake ``MERGE INTO`` clause set
    the reference's sinks imply (every notebook persists Delta —
    01_aml_network_analysis.py:245, 03_aml_entity_resolution.py:68 —
    and Delta's headline write op is MERGE), expressed storage-
    agnostically as ONE full-outer join:

    - source row matches a target row  → target row is UPDATED to the
      source's values (or DELETED where ``matched_delete`` holds — a
      Column evaluated against ``source``, e.g. a CDC ``op == 'D'``
      flag);
    - source row matches nothing       → INSERTED
      (``when_not_matched='ignore'`` drops it instead);
    - target row matches nothing       → kept as-is
      (``when_not_matched_by_source='delete'`` drops it instead —
      Delta/SQL:2023's WHEN NOT MATCHED BY SOURCE clause, which turns
      MERGE into a full table sync: after
      ``merge_into(t, s, on, when_not_matched_by_source='delete')``
      the keys of the result are exactly the source's surviving keys).

    ``source`` must carry every ``target`` column (extra columns are
    allowed — e.g. CDC flags — and are not written). Output column
    order is the target's.

    Duplicate source keys make MERGE non-deterministic (which update
    wins?), so — like Delta, which fails such merges — a per-row
    codegen'd check raises when two source rows share a key
    (``validate_unique_source=False`` skips the count window when the
    caller has already deduplicated).

    Scale shape: one shuffle per side on the merge keys (plus, when
    validating, a window count over the source on the SAME keys — the
    partitioning is produced once and reused by the join); no
    broadcast assumption — both sides may be huge. The physical
    rewrite-only-touched-files optimization is the storage layer's job
    (Delta does it via file pruning); this operator provides the exact
    row-level semantics.
    """
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError("when_not_matched must be 'insert'|'ignore'")
    if when_not_matched_by_source not in ("keep", "delete"):
        raise ValueError("when_not_matched_by_source must be 'keep'|'delete'")
    missing = [c for c in target.columns if c not in source.columns]
    if missing:
        raise ValueError(f"source lacks target columns: {missing}")
    value_cols = [c for c in target.columns if c not in on]

    s = source
    if matched_delete is not None:
        s = s.withColumn("__del", F.coalesce(matched_delete.cast("boolean"), F.lit(False)))
    else:
        s = s.withColumn("__del", F.lit(False))
    if validate_unique_source:
        w = Window.partitionBy(*on)
        key_str = F.concat_ws(",", *[F.col(c).cast("string") for c in on])
        s = s.withColumn("__cnt", F.count(F.lit(1)).over(w)).withColumn(
            "__del",
            F.when(
                F.col("__cnt") > 1,
                F.raise_error(
                    F.concat(
                        F.lit("merge_into: duplicate source rows for key ("),
                        key_str,
                        F.lit(") — MERGE requires at most one source row per target row"),
                    )
                ).cast("boolean"),
            ).otherwise(F.col("__del")),
        )
    s_pack = s.select(
        *on,
        F.struct(*[F.col(c).alias(c) for c in value_cols], F.col("__del").alias("__del")).alias(
            "__s"
        ),
    )
    t_pack = target.select(*on, F.struct(*[F.col(c).alias(c) for c in value_cols]).alias("__t"))

    j = t_pack.join(s_pack, on, "full_outer")
    matched = F.col("__t").isNotNull() & F.col("__s").isNotNull()
    insert_only = F.col("__t").isNull()
    keep = F.when(matched, ~F.col("__s.__del")).otherwise(
        F.when(insert_only, F.lit(when_not_matched == "insert")).otherwise(
            F.lit(when_not_matched_by_source == "keep")
        )
    )
    chosen = F.when(F.col("__s").isNotNull(), F.col("__s")).otherwise(
        # pad __t with a dummy __del so both branches agree on type
        F.struct(*[F.col(f"__t.{c}").alias(c) for c in value_cols], F.lit(False).alias("__del"))
    )
    out = j.filter(keep).select(*on, chosen.alias("__row"))
    return out.select(
        *[
            F.col(c) if c in on else F.col(f"__row.{c}").alias(c)
            for c in target.columns
        ]
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    on: list[str],
) -> DataFrame:
    """Snapshot diff → CDC feed: compare two versions of a keyed table
    and emit one row per changed key with ``op`` = 'I' (key only in
    ``new``), 'U' (key in both, any non-key column differs), or 'D'
    (key only in ``old``), plus ``before``/``after`` structs. The
    inverse of :func:`merge_into`: ``merge_into(old, diff-as-CDC)``
    reproduces ``new`` (pinned in tests/test_operators.py).

    One full-outer join on the keys; change detection is a null-safe
    struct comparison (``<=>`` lifted over the packed row), so NULL →
    value and value → NULL transitions count as updates and NULL == NULL
    does not. Unchanged keys are filtered before the output — the feed
    is proportional to the churn, not the table.
    """
    value_cols = [c for c in old.columns if c not in on]
    if [c for c in new.columns if c not in on] != value_cols:
        raise ValueError("old/new schemas must match")
    o = old.select(*on, F.struct(*[F.col(c).alias(c) for c in value_cols]).alias("before"))
    n = new.select(*on, F.struct(*[F.col(c).alias(c) for c in value_cols]).alias("after"))
    j = o.join(n, on, "full_outer")
    op = (
        F.when(F.col("before").isNull(), F.lit("I"))
        .when(F.col("after").isNull(), F.lit("D"))
        .when(~F.col("before").eqNullSafe(F.col("after")), F.lit("U"))
    )
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(*on, "op", "before", "after")
    )


def merge_aggregates(
    old: DataFrame,
    delta: DataFrame,
    on: list[str],
    sum_cols: list[str],
    count_cols: list[str] | None = None,
) -> DataFrame:
    """Incremental view maintenance for distributive aggregates: fold a
    DELTA batch's partial aggregates into the maintained aggregate
    table — ``merged == full recompute`` for sums/counts (they're
    associative), without rescanning history. The daily-rollup pattern
    at 100 TB: aggregate only the new partition, merge into the
    serving table (optionally via :func:`merge_into`/``merge_table``
    for the write).

    Both inputs carry ``on`` + the aggregate columns; unmatched keys
    on either side pass through (full-outer + coalesce-to-zero
    addition). One shuffle per side on the group keys.
    """
    cols = sum_cols + (count_cols or [])
    o = old.select(*on, *[F.col(c).alias(f"__o_{c}") for c in cols])
    d = delta.select(*on, *[F.col(c).alias(f"__d_{c}") for c in cols])
    j = o.join(d, on, "full_outer")
    return j.select(
        *on,
        *[
            (
                F.coalesce(F.col(f"__o_{c}"), F.lit(0)) + F.coalesce(F.col(f"__d_{c}"), F.lit(0))
            ).alias(c)
            for c in cols
        ],
    )


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """Column-level data profile: one row per column with row count,
    non-null count, distinct count, and min/max (stringified) — the
    first thing a pipeline runs against an unfamiliar 100 TB table
    (schema drift, null explosions, and key-cardinality checks all
    fall out of this one pass).

    One independent two-level aggregation branch PER COLUMN (guide
    §2.3 "aggregate before you shuffle"): groupBy the column's values
    (partial map-side agg collapses each scan partition to its
    distinct values), then fold counts/min/max from the value groups;
    the branches union to the output rows. N parquet FOOTER-PRUNED
    single-column scans run as parallel stages inside one job; each
    branch shuffles only its column's distinct values. Measured 6.4x
    faster than a single-aggregate expand plan on a 6-column orders
    profile (r14, OPTIMIZATION_r14.md) — the expand's row
    multiplication was the cost, not the scan count.

    Column names are resolved as quoted identifiers, so names an
    unfamiliar table may carry (``.``, backticks, quotes) profile
    like any other. min/max are computed in the column's native type
    THEN cast to string, so numeric columns order numerically. At
    scale set ``exact_distinct=False`` to swap the exact distinct for
    HyperLogLog partial aggregation (approx_count_distinct, ~2% error).
    """
    from functools import reduce

    branches = []
    for c in columns or df.columns:
        per = df.select(F.col("`" + c.replace("`", "``") + "`").alias("__v"))
        if exact_distinct:
            grouped = per.groupBy("__v").agg(F.count(F.lit(1)).alias("__n"))
            branch = grouped.agg(
                F.coalesce(F.sum("__n"), F.lit(0)).alias("n_rows"),
                F.coalesce(
                    F.sum(F.when(F.col("__v").isNotNull(), F.col("__n"))),
                    F.lit(0),
                ).alias("n_non_null"),
                F.count("__v").alias("n_distinct"),
                F.min("__v").cast("string").alias("min_value"),
                F.max("__v").cast("string").alias("max_value"),
            )
        else:
            branch = per.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count("__v").alias("n_non_null"),
                F.approx_count_distinct("__v").alias("n_distinct"),
                F.min("__v").cast("string").alias("min_value"),
                F.max("__v").cast("string").alias("max_value"),
            )
        branches.append(branch.select(F.lit(c).alias("col_name"), "*"))
    return reduce(lambda a, b: a.unionByName(b), branches).select(
        "col_name", "n_rows", "n_non_null", "n_distinct", "min_value", "max_value"
    )


def expectations(
    df: DataFrame,
    rules: "dict[str, Column]",
    unique_keys: list[str] | None = None,
) -> DataFrame:
    """Data-quality expectations (the Deequ / dbt-tests niche): each
    rule is a BOOLEAN column that should hold for every row; the
    result is one row per rule with its violation count — gate a
    pipeline on ``violations == 0`` before consuming an upstream table.

    ONE aggregate pass computes every row-wise rule (conditional sums
    share the scan); ``unique_keys`` adds a table-level uniqueness rule
    (count - countDistinct over the key tuple) folded into the same
    aggregate. Rows where a rule evaluates to NULL count as violations
    (unknown is not a pass) via null-safe negation.

    Returns (rule, n_violations) — the one aggregate row is
    stack-pivoted in the plan, no driver collect.
    """
    aggs = []
    names: list[str] = []
    for name, pred in rules.items():
        aggs.append(
            F.sum(F.when(pred.eqNullSafe(F.lit(True)), 0).otherwise(1)).cast("long").alias(f"__r_{len(names)}")
        )
        names.append(name)
    if unique_keys:
        aggs.append(
            (F.count(F.lit(1)) - F.countDistinct(*[F.col(k) for k in unique_keys]))
            .cast("long")
            .alias(f"__r_{len(names)}")
        )
        names.append(f"unique({', '.join(unique_keys)})")
    if not names:
        raise ValueError("expectations() needs at least one rule or unique_keys")
    row = df.agg(*aggs)
    # rule names become stack() literals: pair each name with its agg as
    # (string literal column, metric column) instead of splicing the
    # name into SQL text — no quote/backslash escaping to get wrong
    pairs: list[Column] = []
    for i, n in enumerate(names):
        pairs += [F.lit(n), F.col(f"__r_{i}")]
    return row.select(
        F.stack(F.lit(len(names)), *pairs).alias("rule", "n_violations")
    )


def time_rollup(
    df: DataFrame,
    ts_col: str,
    grains: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Multi-granularity time rollup in ONE pass — the
    continuous-aggregate / hypertable-rollup shape (TimescaleDB's
    time_bucket hierarchy, Druid's granularity rollup): every requested
    ``grains`` level (e.g. hour/day/month) is aggregated from a single
    scan of the fact table via GROUPING SETS, instead of one
    job per grain re-reading the source.

    Returns ``(grain, bucket, *aggs)`` with ``bucket`` the truncated
    timestamp formatted as an ISO string (engine-portable; see
    FIXTURES.md §date columns). Catalyst expands the grouping sets
    map-side and partial-aggregates before the single shuffle, so the
    shuffled rows are bounded by (distinct buckets x grains), not the
    fact row count — the property that makes one-pass rollup the right
    shape at 100 TB. Incremental maintenance of a persisted rollup is
    the composition with :func:`merge_aggregates` /
    ``VersionedTable.merge`` (see incremental_revenue_merge).
    """
    if not grains:
        raise ValueError("grains must be non-empty")
    # Spark's date_trunc returns NULL for an unrecognized unit — a typo
    # like "dayy" would silently rollup the whole table into one NULL
    # bucket (review finding); validate eagerly instead.
    valid = {
        "year", "yyyy", "yy", "quarter", "month", "mon", "mm", "week",
        "day", "dd", "hour", "minute", "second", "millisecond", "microsecond",
    }
    bad = [g for g in grains if g.lower() not in valid]
    if bad:
        raise ValueError(f"unknown date_trunc grain(s): {bad} (valid: {sorted(valid)})")
    # whole-second format collapses distinct sub-second buckets into one
    # label (review finding); the wide format applies PER-GRAIN (second
    # review pass) so a coarse grain's label never changes just because
    # a sub-second grain shares the call — rollups from different grain
    # lists stay joinable on (grain, bucket).
    sub_second = {g for g in grains if g.lower() in ("millisecond", "microsecond")}
    bucket_cols = [
        F.date_trunc(g, F.col(ts_col)).alias(f"__b_{g}") for g in grains
    ]
    rolled = (
        df.select(*bucket_cols, *df.columns)
        .groupingSets([[f"__b_{g}"] for g in grains], *[F.col(f"__b_{g}") for g in grains])
        .agg(
            *aggs,
            # grouping() == 0 identifies the active set even if the
            # bucket VALUE is NULL (null timestamps) — a null-check on
            # the bucket column could not tell those apart
            *[F.grouping(f"__b_{g}").alias(f"__isg_{g}") for g in grains],
        )
    )
    grain_expr = None
    bucket_expr = None
    for g in grains:
        cond = F.col(f"__isg_{g}") == 0
        fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS" if g in sub_second else "yyyy-MM-dd HH:mm:ss"
        labeled = F.date_format(F.col(f"__b_{g}"), fmt)
        grain_expr = F.when(cond, F.lit(g)) if grain_expr is None else grain_expr.when(cond, F.lit(g))
        bucket_expr = F.when(cond, labeled) if bucket_expr is None else bucket_expr.when(cond, labeled)
    return rolled.select(
        grain_expr.alias("grain"),
        bucket_expr.alias("bucket"),
        *[c for c in rolled.columns if not c.startswith("__b_") and not c.startswith("__isg_")],
    )


def rrf_fuse(
    lists: "dict[str, DataFrame]",
    id_col: str,
    rank_col: str = "rank",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of named ranked
    candidate lists: ``rrf = sum over lists of 1/(k + rank)``, the
    standard score-free way to combine lexical (BM25) and dense (ANN)
    retrieval — robust to incomparable score scales because only RANKS
    enter. An item missing from a list contributes 0 for that list
    (full outer join semantics), never NULL.

    Each input holds (id_col, rank_col) with rank 1-based. Candidate
    lists are per-query top-k by construction, so the chained full
    outer joins are small however large the corpus that produced
    them; returns (id_col, <name>_rank ... nullable, rrf_score)."""
    if not lists:
        raise ValueError("rrf_fuse needs at least one ranked list")
    fused: DataFrame | None = None
    for name, df in lists.items():
        cur = df.select(
            F.col(id_col), F.col(rank_col).cast("long").alias(f"{name}_rank")
        )
        fused = cur if fused is None else fused.join(cur, id_col, "full_outer")
    score = None
    for name in lists:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(k) + F.col(f"{name}_rank")), F.lit(0.0)
        )
        score = term if score is None else score + term
    return fused.select(
        id_col, *[f"{name}_rank" for name in lists], score.alias("rrf_score")
    )


def skyline_2d(
    df: DataFrame,
    x: str,
    y: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Pareto frontier maximizing ``(x, y)``: rows no other row
    strictly dominates (another row with x' >= x AND y' >= y and at
    least one strict). Exact duplicates of a frontier point are all
    kept (standard skyline semantics); both columns must be integral
    (rescale a money column to cents first) so the strict-inequality
    window frames stay well-defined.

    The single-machine formulation is one global sort — a single-task
    window at scale. This runs DISTRIBUTED in two bounded passes
    (the dense_index pattern, sampling.py):

    1. per-x aggregate: only the max-``y`` of each ``x`` can be on the
       frontier — one map-side-combined shuffle yielding distinct
       ``(x, ymax)`` candidates;
    2. range-repartition candidates by ``x``, compute the
       per-partition suffix-max of ``ymax`` on the driver (ONE bounded
       collect: a row per partition), then a within-partition RUNNING
       max over the descending-``x`` sort plus the broadcast carry
       decides dominance locally — no global sort, no single task.
       (The running ROWS frame is incremental / O(n); the tempting
       ``RANGE 1 FOLLOWING..UNBOUNDED`` strict frame re-aggregates the
       remainder per row — O(n^2), measured pathological at 1M
       candidate rows. Ties never reach the frame because step 1 left
       one row per ``x``.)

    Frontier rows are fetched by joining the surviving ``(x, ymax)``
    pairs back to ``df`` (tiny in practice — AQE broadcasts it).
    A row survives iff every row with strictly greater ``x`` has
    strictly smaller ``y``."""
    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism

    per_x = df.groupBy(x).agg(F.max(y).alias("__ymax"))
    parted = (
        per_x.repartitionByRange(n_parts, F.col(x))
        .sortWithinPartitions(F.col(x).desc())
        .withColumn("__pid", F.spark_partition_id())
        # two actions follow (per-pid maxes, then the result):
        # checkpoint so both see the SAME range split (the
        # two-action derived-partitioning trap, SKILL r6)
        .localCheckpoint(eager=True)
    )
    # Bounded driver action: one row per partition. Ascending pid ==
    # ascending x range, so the carry for pid p is the suffix max of
    # the per-partition ymax maxes over pids > p.
    pid_max = {
        r["__pid"]: r["m"]
        for r in parted.groupBy("__pid").agg(F.max("__ymax").alias("m")).collect()
    }
    carry, acc = [], None
    for pid in range(n_parts - 1, -1, -1):
        carry.append(acc)
        m = pid_max.get(pid)
        if m is not None and (acc is None or m > acc):
            acc = m
    carry.reverse()  # carry[pid] = max ymax over all strictly-later pids
    carry_expr = F.array(
        *[F.lit(c).cast("long") for c in carry]
    )[F.col("__pid")]

    # incremental growing frame: all STRICTLY-greater-x rows precede
    # this one in the desc sort, and step 1 left exactly one row per x
    prev = (
        Window.partitionBy("__pid")
        .orderBy(F.col(x).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # greatest() ignores NULL sides (empty frame / last partition) and
    # is NULL only when both are — coalesce makes that "not dominated".
    frontier_x = (
        parted.withColumn(
            "__hi", F.greatest(F.max("__ymax").over(prev), carry_expr)
        )
        .filter(~F.coalesce(F.col("__hi") >= F.col("__ymax"), F.lit(False)))
        .select(x, "__ymax")
    )
    return (
        df.join(frontier_x, x)
        .filter(F.col(y) == F.col("__ymax"))
        .drop("__ymax")
    )


def bipartite_project(
    baskets: DataFrame,
    entity_col: str,
    item_col: str,
    hub_cap: int,
    min_shared: int,
) -> DataFrame:
    """Project a two-mode (entity, item) relation onto a weighted
    one-mode entity graph: an edge (a, b, shared) for every entity pair
    sharing >= ``min_shared`` items — the standard construction for
    co-counterparty AML graphs and co-purchase/co-view recommendation
    graphs.

    Scale posture: the pair generator is a POSTING-LIST equi-join on
    the shared item (the token-posting pattern), never all-pairs — and
    its classic failure mode, quadratic fanout on hub items (one item
    with 1M buyers emits 5*10^11 pairs), is removed BEFORE the join by
    the ``hub_cap`` degree filter (<= cap entities per item), the same
    stop-token discipline as vocabulary-keyed joins.

    Plan (r14 optimization round, guide §2.4): one distinct shuffle on
    (entity, item), then the item degree comes from a COUNT WINDOW
    partitioned by item instead of a separate groupBy + join-back —
    the old freq branch re-executed the corpus-scale basket-distinct
    subtree once per consumer (4 static copies in the co-purchase
    plan; AQE reuses identical exchanges, not duplicate subtrees), and
    its SortMergeJoin shuffled the relation by item a second time. The
    window's output is already hash-partitioned AND sorted by item, so
    the pair self-join adds NO exchange; one pair-count shuffle
    finishes. Measured on the co-purchase query at sf0.1:
    1.86-2.06 -> 1.59-1.62 s warm, static plan 16 -> 8 scans. Skew
    note: each window partition buffers ONE item's rows (spilling
    past the in-memory threshold); the rows a 1M-buyer hub item buffers
    here are exactly the rows the old plan shuffled to a single join
    task before dropping them, so the hub exposure is unchanged — the
    cap filter still prevents any hub pair fan-out.
    Stress-measured with a planted hub in tools/stress_graph.py
    (SCALE.md §bipartite projection).

    ``baskets`` rows need not be distinct; duplicates are collapsed so
    multiplicity never inflates shared counts."""
    from pyspark.sql.window import Window

    b = baskets.select(F.col(entity_col).alias("__ent"), F.col(item_col).alias("__item")).distinct()
    keep = (
        b.withColumn(
            "__nf", F.count(F.lit(1)).over(Window.partitionBy("__item"))
        )
        .filter(F.col("__nf") <= hub_cap)
        .drop("__nf")
    )
    a_side = keep.select(F.col("__ent").alias(f"{entity_col}_a"), "__item")
    b_side = keep.select(F.col("__ent").alias(f"{entity_col}_b"), "__item")
    return (
        a_side.join(b_side, "__item")
        .filter(F.col(f"{entity_col}_a") < F.col(f"{entity_col}_b"))
        .groupBy(f"{entity_col}_a", f"{entity_col}_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_items"))
        .filter(F.col("shared_items") >= min_shared)
    )
