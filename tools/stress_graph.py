#!/usr/bin/env python
"""Graph-loop stress run at 10-100x fixture scale: synthesize a
power-law-ish random graph entirely with codegen expressions
(spark.range + xxhash64 — no driver-side data), run the iterative
operators, and record rounds/wall. The local[32] numbers go to
SCALE.md §graph-stress; the point is the ROUND COUNTS and per-round
behavior staying flat as edges grow 10x, not absolute wall (one box).

Usage: python tools/stress_graph.py [n_edges] [n_vertices]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from anti_money_laundering_spark.graph import Graph  # noqa: E402
from anti_money_laundering_spark.graph.components import connected_components  # noqa: E402
from anti_money_laundering_spark.session import get_spark  # noqa: E402


def synth_graph(spark, n_edges: int, n_vertices: int):
    """Random multigraph with a heavy tail: ~1% of edges hit a 100-key
    hub set (mule-ring shape), the rest uniform. Pure expressions —
    the 10M-edge table never exists off-executor."""
    e = spark.range(n_edges).select(
        F.when(
            F.xxhash64("id", F.lit("hub")) % 100 == 0,
            F.pmod(F.xxhash64("id", F.lit("hubpick")), 100),
        )
        .otherwise(F.pmod(F.xxhash64("id", F.lit("src")), n_vertices))
        .alias("src"),
        F.pmod(F.xxhash64("id", F.lit("dst")), n_vertices).alias("dst"),
        # positive hash-derived weight so the weighted-SSSP phase runs
        # on the same graph (amounts in (0, 10])
        (F.pmod(F.xxhash64("id", F.lit("w")), 1000) / 100.0 + 0.01).alias("amount"),
    )
    v = spark.range(n_vertices).select(F.col("id"))
    return Graph(v, e)


def main() -> int:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_vertices = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    spark = get_spark(app_name="graph_stress", shuffle_partitions=64)
    g = synth_graph(spark, n_edges, n_vertices)

    t0 = time.perf_counter()
    deg = g.degrees().agg(F.max("degree"), F.avg("degree")).collect()[0]
    t_deg = time.perf_counter() - t0
    print(f"degrees: max={deg[0]} avg={deg[1]:.2f}  wall={t_deg:.1f}s")

    stats: dict = {}
    t0 = time.perf_counter()
    cc = connected_components(g, max_iter=30, stats=stats)
    n_comp = cc.select("component").distinct().count()
    t_cc = time.perf_counter() - t0
    print(
        f"connected_components: rounds={stats['rounds']} components={n_comp} "
        f"wall={t_cc:.1f}s round_seconds={stats['round_seconds']}"
    )

    from anti_money_laundering_spark.graph import hits, weighted_sssp  # noqa: E402

    t0 = time.perf_counter()
    n_sssp = weighted_sssp(g, [0, 1], max_iter=4).count()
    t_sssp = time.perf_counter() - t0
    print(f"weighted_sssp: 4 rounds, {n_sssp} (id,source) rows  wall={t_sssp:.1f}s")

    t0 = time.perf_counter()
    n_hits = hits(g, max_iter=2).count()
    t_hits = time.perf_counter() - t0
    print(f"hits: 2 iterations, {n_hits} vertex rows  wall={t_hits:.1f}s")

    from anti_money_laundering_spark.graph.algorithms import betweenness  # noqa: E402

    t0 = time.perf_counter()
    bc = betweenness(g, sources=list(range(4)), max_iter=12)
    top = bc.orderBy(F.desc("betweenness"), "id").limit(5).collect()
    t_bc = time.perf_counter() - t0
    print(
        f"betweenness: 4 landmarks, top5={[(r.id, round(r.betweenness, 1)) for r in top]} "
        f"wall={t_bc:.1f}s"
    )

    # --- bipartite projection with a PLANTED HUB (r8): 20M (entity,
    # item) baskets over 1M entities x 200k items, plus one item bought
    # by 100k entities — uncapped it alone emits ~5e9 pairs; the
    # hub_cap filter must remove it BEFORE the pair join, keeping the
    # projection linear in the posting-list sizes.
    from anti_money_laundering_spark.operators import bipartite_project

    n_baskets = max(n_edges * 2, 1_000_000)
    baskets = spark.range(n_baskets).select(
        F.pmod(F.xxhash64("id", F.lit("ent")), 1_000_000).alias("ent"),
        F.pmod(F.xxhash64("id", F.lit("itm")), 200_000).alias("itm"),
    )
    hub = spark.range(100_000).select(
        F.col("id").alias("ent"), F.lit(777_777_777).alias("itm")
    )
    t0 = time.perf_counter()
    proj = bipartite_project(
        baskets.unionByName(hub), "ent", "itm", hub_cap=1000, min_shared=3
    )
    n_edges_out = proj.count()
    t_bp = time.perf_counter() - t0
    print(f"bipartite_project: baskets={n_baskets}+hub100k edges_out={n_edges_out} wall={t_bp:.1f}s")
    return 0


def motif_stress(
    n_edges: int = 10_000_000, n_vertices: int = 2_500_000, hub_in_degree: int = 1000
) -> int:
    """Fan-in motif compiler at 10M+ edges with PLANTED motifs and a
    PLANTED HUB (r8 verdict item 4): the flagship structuring pattern
    "(a)-[e1]->(c); (b)-[e2]->(c); (c)-[e3]->(g)" compiles to two
    equi-joins on c; its intermediate size is Σ_c indeg(c)²·outdeg(c),
    so the stress shape controls both terms — a sparse Poisson
    background (mean in-degree 4 → ~15M intermediate pairs at 10M
    edges) plus one hub with in-degree 1,000 and a single out-edge
    (1M pairs through ONE join key — the skew case AQE must split).

    Recall check: 100 planted motifs on reserved vertex ids with
    amount 300 per in-edge; background amounts are <= 10.01, so the
    in_amount > 400 filter admits EXACTLY the planted rows (two
    background edges sum <= 20.02; planted+background <= 310.01) —
    output == the 100 planted (a,b,c,g) tuples or the compiler broke.

    Records wall, the physical join algorithms in chain order, and the
    shuffle Exchange count of the executed (AQE-final) plan."""
    spark = get_spark(app_name="graph_stress_motif", shuffle_partitions=64)
    from anti_money_laundering_spark.graph.motif import find_motif  # noqa: E402

    half = n_edges // 2
    background = spark.range(n_edges).select(
        F.pmod(F.xxhash64("id", F.lit("msrc")), n_vertices).alias("src"),
        F.pmod(F.xxhash64("id", F.lit("mdst")), n_vertices).alias("dst"),
        (F.pmod(F.xxhash64("id", F.lit("mw")), 1000) / 100.0 + 0.01).alias("amount"),
    )
    hub_id = n_vertices + 1_000_000
    hub_in = spark.range(hub_in_degree).select(
        F.col("id").alias("src"), F.lit(hub_id).alias("dst"), F.lit(1.0).alias("amount")
    )
    hub_out = spark.range(1).select(
        F.lit(hub_id).alias("src"), F.lit(hub_id + 1).alias("dst"), F.lit(1.0).alias("amount")
    )
    base = n_vertices  # reserved id block for planted motifs
    plant = spark.range(100)
    planted = (
        plant.select(
            (base + F.col("id") * 4).alias("src"),
            (base + F.col("id") * 4 + 2).alias("dst"),
            F.lit(300.0).alias("amount"),
        )
        .unionByName(
            plant.select(
                (base + F.col("id") * 4 + 1).alias("src"),
                (base + F.col("id") * 4 + 2).alias("dst"),
                F.lit(300.0).alias("amount"),
            )
        )
        .unionByName(
            plant.select(
                (base + F.col("id") * 4 + 2).alias("src"),
                (base + F.col("id") * 4 + 3).alias("dst"),
                F.lit(1.0).alias("amount"),
            )
        )
    )
    edges = background.unionByName(hub_in).unionByName(hub_out).unionByName(planted)
    v = spark.range(base + 2_000_000).select(F.col("id"))
    g = Graph(v, edges)
    _ = half  # documented shape; no split needed

    t0 = time.perf_counter()
    m = find_motif(g, "(a)-[e1]->(c); (b)-[e2]->(c); (c)-[e3]->(g)")
    out = m.filter(
        (F.col("a.id") < F.col("b.id"))
        & (F.col("e1.amount") + F.col("e2.amount") > 400.0)
    ).select(
        F.col("a.id").alias("a_id"),
        F.col("b.id").alias("b_id"),
        F.col("c.id").alias("c_id"),
        F.col("g.id").alias("g_id"),
    )
    rows = out.collect()
    wall = time.perf_counter() - t0
    expect = {
        (base + i * 4, base + i * 4 + 1, base + i * 4 + 2, base + i * 4 + 3)
        for i in range(100)
    }
    got = {(r.a_id, r.b_id, r.c_id, r.g_id) for r in rows}
    recall = len(expect & got) / len(expect)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re as _re

    joins = _re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
        r"|CartesianProduct|BroadcastNestedLoopJoin)",
        plan,
    )
    n_exch = sum(
        1
        for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln and "Reused" not in ln
    )
    print(
        f"motif_fanin: edges={n_edges}+hub{hub_in_degree}+planted300 rows_out={len(rows)} "
        f"recall={recall:.2f} wall={wall:.1f}s shuffle_exchanges={n_exch}"
    )
    print(f"  join chain: {joins}")
    assert recall == 1.0, f"planted-motif recall {recall} != 1.0"
    assert got == expect, f"unexpected non-planted rows: {sorted(got - expect)[:5]}"

    # --- capped re-run (r9 verdict item 2): the SAME pattern with the
    # compiler's super-hub guard. The cap sits far above the planted
    # motifs' chain degrees (c: in 2 / out 1 — background adds ~4) and
    # far below the planted hub, so recall must stay 1.0 while the
    # hub's indeg² pair blowup is excluded before the join forms.
    cap = 500
    t0 = time.perf_counter()
    mc = find_motif(
        g, "(a)-[e1]->(c); (b)-[e2]->(c); (c)-[e3]->(g)", max_vertex_degree=cap
    )
    outc = mc.filter(
        (F.col("a.id") < F.col("b.id"))
        & (F.col("e1.amount") + F.col("e2.amount") > 400.0)
    ).select(
        F.col("a.id").alias("a_id"),
        F.col("b.id").alias("b_id"),
        F.col("c.id").alias("c_id"),
        F.col("g.id").alias("g_id"),
    )
    rows_c = outc.collect()
    wall_c = time.perf_counter() - t0
    got_c = {(r.a_id, r.b_id, r.c_id, r.g_id) for r in rows_c}
    recall_c = len(expect & got_c) / len(expect)
    print(
        f"motif_fanin_capped: cap={cap} rows_out={len(rows_c)} "
        f"recall={recall_c:.2f} wall={wall_c:.1f}s (uncapped {wall:.1f}s)"
    )
    assert recall_c == 1.0, f"capped planted-motif recall {recall_c} != 1.0"
    assert got_c == expect, f"unexpected rows under cap: {sorted(got_c - expect)[:5]}"
    return 0


def passthrough_stress(
    n_transfers: int = 20_000_000, n_accounts: int = 2_500_000, hot_k: int = 5000
) -> int:
    """Pass-through funnel screen at 20M transfers with PLANTED
    funnels and a PLANTED HOT MID (the passthrough_funds_alerts
    formulation: bucketized range_join on (mid, 48h bucket) + exact
    integer cent-ratio band + per-mid aggregate).

    Shape: uniform background over n_accounts; ONE hot funnel account
    with hot_k inflows (518.4 s apart, 200.00 each) echoed 1h later at
    the 80% band edge (160.00) — every outflow pairs with EVERY
    in-window inflow (~333), so the hot mid alone contributes ~1.6M
    pairs through one join key: the skew case the (mid, bucket)
    sharding must spread. Plus 200 small funnels (10 in / 10 out at
    90%, 6h apart) for recall breadth. Planted mids live in a reserved
    id block the background cannot touch, so their expected outputs
    are EXACTLY computable — a numpy integer-microsecond replay
    asserts n_passthrough and in_total per planted mid.

    Records wall, the shuffle Exchange count and join algorithms of
    the executed plan, and the organic background pair volume."""
    import numpy as np

    spark = get_spark(app_name="graph_stress_passthrough", shuffle_partitions=64)
    from anti_money_laundering_spark.operators import range_join  # noqa: E402

    base_us = 1_704_067_200_000_000  # 2024-01-01 UTC, exact integer µs
    span_us = 30 * 86_400_000_000  # 30 days
    win_h = 48
    win_us = win_h * 3_600_000_000

    background = spark.range(n_transfers).select(
        F.pmod(F.xxhash64("id", F.lit("psrc")), n_accounts).alias("src"),
        F.pmod(F.xxhash64("id", F.lit("pdst")), n_accounts).alias("dst"),
        (F.pmod(F.xxhash64("id", F.lit("pamt")), 1000) + 14001).alias("cents"),
        F.timestamp_micros(
            F.lit(base_us) + F.pmod(F.xxhash64("id", F.lit("pts")), span_us)
        ).alias("ts"),
    )

    hot_mid = n_accounts + 777
    delta_us = span_us // hot_k  # 518.4 s — not a divisor of 1h, so no ties
    hot_in = spark.range(hot_k).select(
        (F.lit(n_accounts + 1_000_000) + F.col("id")).alias("src"),
        F.lit(hot_mid).alias("dst"),
        F.lit(20000).alias("cents"),
        F.timestamp_micros(F.lit(base_us) + F.col("id") * delta_us).alias("ts"),
    )
    hot_out = spark.range(hot_k).select(
        F.lit(hot_mid).alias("src"),
        (F.lit(n_accounts + 2_000_000) + F.col("id")).alias("dst"),
        F.lit(16000).alias("cents"),  # exactly 80% — inclusive band edge
        F.timestamp_micros(
            F.lit(base_us) + F.col("id") * delta_us + 3_600_000_000
        ).alias("ts"),
    )

    n_small, small_k = 200, 10
    small_base = n_accounts + 3_000_000
    sm = spark.range(n_small * small_k).select(
        (F.col("id") / small_k).cast("long").alias("m"), F.pmod(F.col("id"), small_k).alias("k")
    )
    small_ts = (
        F.lit(base_us) + F.col("m") * 1_020_000_000 + F.col("k") * F.lit(6 * 3_600_000_000)
    )
    small_in = sm.select(
        (F.lit(small_base + 1_000_000) + F.col("m") * small_k + F.col("k")).alias("src"),
        (F.lit(small_base) + F.col("m")).alias("dst"),
        F.lit(30000).alias("cents"),
        F.timestamp_micros(small_ts).alias("ts"),
    )
    small_out = sm.select(
        (F.lit(small_base) + F.col("m")).alias("src"),
        (F.lit(small_base + 2_000_000) + F.col("m") * small_k + F.col("k")).alias("dst"),
        F.lit(27000).alias("cents"),  # 90%
        F.timestamp_micros(small_ts + F.lit(1_800_000_000)).alias("ts"),
    )

    e = background.unionByName(hot_in).unionByName(hot_out)
    e = e.unionByName(small_in).unionByName(small_out)

    inflows = e.select(
        F.col("dst").alias("mid"), "src", F.col("cents").alias("in_cents"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr(f"INTERVAL {win_h} HOURS")).alias("hi"),
    )
    outflows = e.select(
        F.col("src").alias("mid"), F.col("dst").alias("sink"),
        F.col("cents").alias("out_cents"), F.col("ts").alias("out_ts"),
    )
    t0 = time.perf_counter()
    pairs = range_join(
        outflows, inflows, by=["mid"], point="out_ts", lo="lo", hi="hi",
        bucket_width_seconds=win_h * 3600,
    ).filter(
        (F.col("out_ts") > F.col("lo"))
        & (F.col("out_cents") * 10 >= F.col("in_cents") * 8)
        & (F.col("out_cents") * 10 <= F.col("in_cents") * 10)
    )
    agg = pairs.groupBy("mid").agg(
        F.count(F.lit(1)).cast("long").alias("n_passthrough"),
        F.sum("in_cents").cast("long").alias("in_cents_total"),
    )
    # persist: the planted collect and the organic count must not each
    # recompute the 20M-row pipeline, or wall measures ~2 runs
    agg = agg.persist()
    planted = {
        r.mid: r for r in agg.filter(F.col("mid") >= n_accounts).collect()
    }
    n_organic = agg.filter(F.col("mid") < n_accounts).count()
    wall = time.perf_counter() - t0
    agg.unpersist()

    # numpy exact replay over the planted block (integer µs, no floats)
    t_in = base_us + np.arange(hot_k, dtype=np.int64) * delta_us
    t_out = t_in + 3_600_000_000
    lo_idx = np.searchsorted(t_in, t_out - win_us, side="right")  # t_in > out-48h
    hi_idx = np.searchsorted(t_in, t_out, side="left")  # t_in < out
    per_out = hi_idx - lo_idx
    want_hot_n = int(per_out.sum())
    want_hot_total = int(per_out.sum()) * 20000
    got_hot = planted[hot_mid]
    assert got_hot.n_passthrough == want_hot_n, (got_hot.n_passthrough, want_hot_n)
    assert got_hot.in_cents_total == want_hot_total

    ts_small = base_us + np.arange(small_k, dtype=np.int64) * 6 * 3_600_000_000
    os_small = ts_small + 1_800_000_000
    lo_s = np.searchsorted(ts_small, os_small - win_us, side="right")
    hi_s = np.searchsorted(ts_small, os_small, side="left")
    want_small_n = int((hi_s - lo_s).sum())
    for m in range(n_small):
        r = planted[small_base + m]
        assert r.n_passthrough == want_small_n, (m, r.n_passthrough, want_small_n)

    plan = agg._jdf.queryExecution().executedPlan().toString()
    import re as _re

    joins = _re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
        r"|CartesianProduct|BroadcastNestedLoopJoin)", plan
    )
    n_exch = sum(
        1 for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln and "Reused" not in ln
    )
    print(
        f"passthrough: transfers={n_transfers}+hot{hot_k}x2+small{n_small}x{small_k}x2 "
        f"hot_pairs={want_hot_n} small_pairs_each={want_small_n} organic_mids={n_organic} "
        f"wall={wall:.1f}s shuffle_exchanges={n_exch} joins={joins}"
    )
    return 0


def landmark_error_sweep(n_edges: int = 200_000, n_vertices: int = 20_000) -> int:
    """Landmark-count vs estimator-error sweep (r7 verdict item 8): on
    a fixed synthetic graph, compare k-landmark betweenness against a
    dense 256-landmark reference — top-50 vertex overlap and relative
    L1 distance of the (normalized) score vectors. Records how fast
    the deterministic landmark estimator converges so the SCALE.md
    claim cites a measurement, not an assertion. Landmarks are the
    first k vertex ids — deterministic, like the catalog query."""
    spark = get_spark(app_name="graph_stress_bc", shuffle_partitions=32)
    from anti_money_laundering_spark.graph.algorithms import betweenness  # noqa: E402

    g = synth_graph(spark, n_edges, n_vertices)
    t0 = time.perf_counter()
    ref = betweenness(g, sources=list(range(256)), max_iter=12).toPandas()
    t_ref = time.perf_counter() - t0
    ref = ref.set_index("id")["betweenness"]
    ref_norm = ref / max(ref.sum(), 1e-12)
    ref_top = set(ref.nlargest(50).index)
    print(f"reference k=256: wall={t_ref:.1f}s")
    for k in (4, 16, 64):
        t0 = time.perf_counter()
        est = betweenness(g, sources=list(range(k)), max_iter=12).toPandas()
        wall = time.perf_counter() - t0
        est = est.set_index("id")["betweenness"].reindex(ref.index).fillna(0.0)
        est_norm = est / max(est.sum(), 1e-12)
        overlap = len(ref_top & set(est.nlargest(50).index)) / 50.0
        rel_l1 = float((est_norm - ref_norm).abs().sum()) / 2.0
        print(f"k={k}: top50_overlap={overlap:.2f} rel_l1={rel_l1:.3f} wall={wall:.1f}s")
    return 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "landmark-sweep":
        raise SystemExit(landmark_error_sweep())
    if len(sys.argv) > 1 and sys.argv[1] == "passthrough":
        raise SystemExit(
            passthrough_stress(
                int(sys.argv[2]) if len(sys.argv) > 2 else 20_000_000,
                int(sys.argv[3]) if len(sys.argv) > 3 else 2_500_000,
                int(sys.argv[4]) if len(sys.argv) > 4 else 5000,
            )
        )
    if len(sys.argv) > 1 and sys.argv[1] == "motif":
        raise SystemExit(
            motif_stress(
                int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000,
                int(sys.argv[3]) if len(sys.argv) > 3 else 2_500_000,
                int(sys.argv[4]) if len(sys.argv) > 4 else 1000,
            )
        )
    raise SystemExit(main())
