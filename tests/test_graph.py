"""Graph module unit tests on tiny hand-built graphs with closed-form
expected results (SURVEY §5 invariant checks for iterative ops)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anti_money_laundering_spark.graph import Graph, risk_propagation


def g(spark, edges, vertices=None):
    e = spark.createDataFrame(edges, "src long, dst long")
    if vertices is None:
        v = e.select(F.col("src").alias("id")).union(e.select("dst")).distinct()
    else:
        v = spark.createDataFrame([(x,) for x in vertices], "id long")
    return Graph(v, e)


def test_graph_validation(spark):
    v = spark.createDataFrame([(1,)], "id long")
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    Graph(v, e)
    with pytest.raises(ValueError):
        Graph(v.withColumnRenamed("id", "x"), e)
    with pytest.raises(ValueError):
        Graph(v, e.withColumnRenamed("src", "x"))


def test_degrees(spark):
    gr = g(spark, [(1, 2), (2, 3), (1, 3), (1, 2)])
    deg = {r.id: r.degree for r in gr.degrees().collect()}
    assert deg == {1: 3, 2: 3, 3: 2}


def test_connected_components_two_islands(spark):
    gr = g(spark, [(1, 2), (2, 3), (10, 11), (12, 11)], vertices=[1, 2, 3, 10, 11, 12, 99])
    cc = {r.id: r.component for r in gr.connected_components().collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_connected_components_chain_diameter(spark):
    # long chain exercises multi-round propagation + checkpointing
    chain = [(i, i + 1) for i in range(1, 12)]
    gr = g(spark, chain)
    cc = {r.id: r.component for r in gr.connected_components().collect()}
    assert set(cc.values()) == {1}


def test_connected_components_long_chain_log_rounds(spark, force_loop):
    # pointer jumping: a 200-node chain must converge in O(log n)
    # rounds — max_iter=12 would never finish under plain propagation.
    # force_loop so the LOOP is what this test exercises (the r14
    # small-graph collapse would solve the chain in one task).
    chain = [(i, i + 1) for i in range(1, 200)]
    gr = g(spark, chain)
    with force_loop():
        cc = {r.id: r.component for r in gr.connected_components(max_iter=12).collect()}
    assert set(cc.values()) == {1}
    assert len(cc) == 200


def test_connected_components_raises_when_max_iter_runs_out(spark, force_loop):
    # 3 rounds cannot settle a 200-node chain: the loop must fail
    # loudly rather than return unconverged labels
    chain = [(i, i + 1) for i in range(1, 200)]
    gr = g(spark, chain)
    with force_loop(), pytest.raises(
        RuntimeError, match="connected_components: no fixpoint after 3 rounds"
    ):
        gr.connected_components(max_iter=3)


def test_connected_components_frontier_rounds_and_labels(spark, force_loop):
    """r13 optimization: delta (frontier) propagation must reproduce
    full re-propagation exactly — the same labels (here: the
    collapse's, itself pinned to min-label semantics) AND the same
    round count. The trajectories are provably identical, so a
    diverging round count would mean the frontier dropped a live
    message; 7 is what the full-propagation loop (since removed)
    measured on this shape. The mixed shape (chain + star + isolated
    vertices) makes the frontier actually shrink over several rounds
    rather than staying full."""
    from anti_money_laundering_spark.graph.components import connected_components

    edges = [(i, i + 1) for i in range(1, 20)] + [(100, j) for j in range(101, 110)]
    gr = g(spark, edges, vertices=list(range(1, 21)) + list(range(100, 110)) + [999])
    st_f: dict = {}
    with force_loop():
        got_f = {r.id: r.component for r in connected_components(gr, stats=st_f).collect()}
    got_c = {r.id: r.component for r in connected_components(gr).collect()}
    assert got_f == got_c
    assert st_f["rounds"] == 7, st_f


def test_connected_components_collapse_equals_loops(spark, force_loop):
    """r14 optimization: the small-graph single-task collapse (the
    default path for any graph under SMALL_GRAPH_COLLAPSE_ROWS) must
    reproduce the distributed loop's labels exactly on the same mixed
    shape the frontier round-count test uses (chain + star + isolated
    vertex — multi-round propagation, pointer jumping, and the
    isolated-vertex left-join fold all engage), plus duplicate edges
    and both edge orientations (min-label is direction-insensitive)."""
    from anti_money_laundering_spark.graph.components import connected_components

    edges = (
        [(i, i + 1) for i in range(1, 20)]
        + [(100, j) for j in range(101, 110)]
        + [(2, 1), (5, 4), (1, 2)]  # reversed + duplicate edges
    )
    gr = g(spark, edges, vertices=list(range(1, 21)) + list(range(100, 110)) + [999])
    st_c: dict = {}
    got_c = {
        r.id: r.component
        for r in connected_components(gr, stats=st_c).collect()
    }
    assert st_c.get("collapsed") is True and st_c["rounds"] == 0
    st_f: dict = {}
    with force_loop():
        got_f = {r.id: r.component for r in connected_components(gr, stats=st_f).collect()}
    assert "collapsed" not in st_f, st_f
    assert got_c == got_f
    assert got_c[999] == 999 and got_c[20] == 1 and got_c[109] == 100


def test_graph_validate_guard(spark):
    """r14 (verdict item 8 / advice): ``Graph.validate`` makes
    contract-violating graphs fail loudly — the CC frontier fold and
    the motif id-only fast path assume unique vertex ids and endpoint
    closure, and silently give other answers when those are
    violated."""
    import pytest

    from anti_money_laundering_spark.graph import Graph

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    dup_v = spark.createDataFrame([(1,), (1,), (2,)], "id long")
    with pytest.raises(ValueError, match="duplicate vertex id"):
        Graph(dup_v, e).validate()
    open_v = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="endpoint closure"):
        Graph(open_v, e).validate()
    # a contract-satisfying graph passes and returns the graph
    ok_v = spark.createDataFrame([(1,), (2,)], "id long")
    assert Graph(ok_v, e).validate() is not None


def test_motif_chain_and_attrs(spark):
    v = spark.createDataFrame([(1, "p"), (2, "q"), (3, "r")], "id long, kind string")
    e = spark.createDataFrame([(1, 2, 10.0), (2, 3, 20.0)], "src long, dst long, amount double")
    gr = Graph(v, e)
    m = gr.find("(a)-[e1]->(b); (b)-[e2]->(c)")
    rows = m.select(
        F.col("a.id").alias("a"), F.col("b.id"), F.col("c.id").alias("c"),
        F.col("e1.amount").alias("amt1"), F.col("b.kind").alias("bk"),
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.a, r.c, r.amt1, r.bk) == (1, 3, 10.0, "q")


def test_motif_cycle(spark):
    gr = g(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    m = gr.find("(a)-[]->(b); (b)-[]->(c); (c)-[]->(a)")
    cycles = {(r["a"]["id"], r["b"]["id"], r["c"]["id"]) for r in m.collect()}
    # each rotation of the 1->2->3 cycle matches
    assert cycles == {(1, 2, 3), (2, 3, 1), (3, 1, 2)}


def test_motif_anonymous_and_negation(spark):
    gr = g(spark, [(1, 2), (2, 1), (2, 3)])
    # pairs with an edge a->b but no reverse edge
    m = gr.find("(a)-[]->(b); !(b)-[]->(a)")
    pairs = {(r["a"]["id"], r["b"]["id"]) for r in m.collect()}
    assert pairs == {(2, 3)}
    # anonymous middle vertex: out-neighbors of vertices with in-edges
    m2 = gr.find("(a)-[]->(); (a)-[]->(b)")
    assert m2.count() == 5  # a in {1,2}: 1 has 1 out-edge (1 combo), 2 has 2 (4 combos)


def test_motif_hub_guard_caps_chain_vertices_only(spark):
    """max_vertex_degree drops matches routed THROUGH a super-hub
    chain vertex, keeps everything else (capped-recall contract), and
    leaves endpoint-only hubs alone — endpoints are linear, the
    d_in*d_out blowup only forms on chain variables."""
    # hub 100: in-degree 3 (1,2,3 -> 100), out-degree 3 (100 -> 11,12,13)
    # => total degree 6. quiet path: 1 -> 20 -> 21 (all degrees <= 3).
    hub_in = [(s, 100) for s in (1, 2, 3)]
    hub_out = [(100, d) for d in (11, 12, 13)]
    quiet = [(1, 20), (20, 21)]
    gr = g(spark, hub_in + hub_out + quiet)
    pat = "(a)-[e1]->(b); (b)-[e2]->(c)"
    full = {
        (r["a"]["id"], r["b"]["id"], r["c"]["id"]) for r in gr.find(pat).collect()
    }
    assert len(full) == 10  # 3*3 through the hub + 1 quiet
    capped = {
        (r["a"]["id"], r["b"]["id"], r["c"]["id"])
        for r in gr.find(pat, max_vertex_degree=5).collect()
    }
    # exactly the matches whose CHAIN vertex (b) is the hub are gone
    assert capped == {t for t in full if t[1] != 100}
    # cap above the hub's degree => identical to the unguarded result
    assert {
        (r["a"]["id"], r["b"]["id"], r["c"]["id"])
        for r in gr.find(pat, max_vertex_degree=6).collect()
    } == full
    # endpoint-only hub is KEPT: single-term pattern has no chain vars,
    # so even degree-6 vertex 100 still matches as a or b
    pairs = {
        (r["a"]["id"], r["b"]["id"])
        for r in gr.find("(a)-[]->(b)", max_vertex_degree=5).collect()
    }
    assert (1, 100) in pairs and (100, 11) in pairs and len(pairs) == 8


def test_motif_hub_guard_cycle_caps_every_chain_var(spark):
    # in a cycle every variable is a chain var: capping removes all
    # rotations through the hub, keeps the disjoint quiet cycle
    hub_cycle = [(100, 2), (2, 3), (3, 100)]
    fan = [(s, 100) for s in (4, 5, 6, 7)]  # push hub degree to 7
    quiet_cycle = [(30, 31), (31, 32), (32, 30)]
    gr = g(spark, hub_cycle + fan + quiet_cycle)
    pat = "(a)-[]->(b); (b)-[]->(c); (c)-[]->(a)"
    capped = {
        (r["a"]["id"], r["b"]["id"], r["c"]["id"])
        for r in gr.find(pat, max_vertex_degree=5).collect()
    }
    assert capped == {(30, 31, 32), (31, 32, 30), (32, 30, 31)}


def test_motif_parse_errors(spark):
    gr = g(spark, [(1, 2)])
    with pytest.raises(ValueError):
        gr.find("(a)-[e]->")
    with pytest.raises(ValueError):
        gr.find("(a)-[e]->(b); (b)-[e]->(c)")  # duplicate edge var
    with pytest.raises(ValueError):
        gr.find("!(a)-[]->(b)")  # negation before binding


def test_pregel_risk_propagation_closed_form(spark):
    # 1 -> 2 -> 3 chain, risks 8, 0, 0
    v = spark.createDataFrame([(1, 8.0), (2, 0.0), (3, 0.0)], "id long, risk double")
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    out = {r.id: r.risk_score for r in risk_propagation(Graph(v, e)).collect()}
    # step1: v2 = 8/2+0 = 4, v3 = 0/2+0 = 0; v1 keeps 8 (no inbox)
    # step2: v2 = 8/2+0 = 4, v3 = 4/2+0 = 2
    # step3: v2 = 4,          v3 = 4/2+0 = 2
    assert out == {1: 8.0, 2: 4.0, 3: 2.0}


def test_prune_degree_one(spark):
    gr = g(spark, [(1, 2), (2, 3), (2, 4)])
    pruned = gr.prune_degree_one()
    assert {r.id for r in pruned.vertices.collect()} == {2}
    assert pruned.edges.count() == 0
    kept = gr.prune_degree_one(keep=F.col("id") == 3)
    assert {r.id for r in kept.vertices.collect()} == {2, 3}
    assert kept.edges.count() == 1


def test_pagerank_with_preexisting_out_degree_column(spark):
    # caller-enriched vertices must not collide with pagerank's
    # internal out-degree column (review finding: duplicate struct
    # fields made src.<col> ambiguous)
    from anti_money_laundering_spark.graph import Graph, pagerank

    v = spark.createDataFrame([(1, 99), (2, 99), (3, 99)], "id long, out_degree long")
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    pr = {r.id: r.pagerank for r in pagerank(Graph(v, e), max_iter=2).collect()}
    assert set(pr) == {1, 2, 3}
    # symmetric 3-cycle: all ranks equal and positive
    assert len({round(x, 9) for x in pr.values()}) == 1 and min(pr.values()) > 0


def test_triangle_count_closed_form(spark):
    from anti_money_laundering_spark.graph import triangle_count

    # triangle 1-2-3 plus pendant 4 off vertex 3 (reverse-dup edge too:
    # direction and multiplicity must collapse before counting)
    gr = g(spark, [(1, 2), (2, 3), (3, 1), (1, 3), (3, 4)])
    out = {r.id: r.n_triangles for r in triangle_count(gr).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 0}


def test_shortest_paths_directed_chain(spark):
    from anti_money_laundering_spark.graph import shortest_paths

    # 1 -> 2 -> 3, plus island 9: distances follow edge direction,
    # unreachable pairs are absent
    gr = g(spark, [(1, 2), (2, 3)], vertices=[1, 2, 3, 9])
    out = {(r.id, r.landmark): r.distance
           for r in shortest_paths(gr, [3, 9]).collect()}
    assert out == {(3, 3): 0, (2, 3): 1, (1, 3): 2, (9, 9): 0}


def test_label_propagation_disjoint_triangles(spark):
    from anti_money_laundering_spark.graph import label_propagation

    # two disjoint triangles: sync LPA with min tie-break converges
    # each to its minimum member id within 3 rounds
    gr = g(spark, [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)])
    out = {r.id: r.label for r in label_propagation(gr, max_iter=3).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_scc_two_cycles_one_bridge(spark):
    from anti_money_laundering_spark.graph import strongly_connected_components

    # cycle {1,2,3}, cycle {4,5}, directed bridge 3->4 (no way back),
    # plus dead-end vertex 6: three SCCs + a singleton
    gr = g(spark, [(1, 2), (2, 3), (3, 1), (4, 5), (5, 4), (3, 4), (5, 6)])
    out = {r.id: r.scc_id for r in strongly_connected_components(gr).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_bipartite_components_equals_generic(spark, force_loop):
    """The right-projection fast path must reproduce the generic
    min-label loop exactly: chained stars (persons 1,2 share attr 101;
    2,3 share 102 -> one component), a separate island, and an
    isolated vertex. Both with the inner CC collapsed and with its
    frontier loop forced: that loop runs over checkpointed inputs
    carrying join-derived constraints, the shape that crashes a
    Union-based loop (see connected_components)."""
    from anti_money_laundering_spark.graph import bipartite_components

    gr = g(
        spark,
        [(1, 101), (1, 102), (2, 102), (2, 103), (3, 103), (7, 201), (8, 201)],
        vertices=[1, 2, 3, 7, 8, 101, 102, 103, 201, 999],
    )
    fast = {r.id: r.component for r in bipartite_components(gr).collect()}
    generic = {r.id: r.component for r in gr.connected_components().collect()}
    assert fast == generic
    assert fast[999] == 999 and fast[3] == 1 and fast[8] == 7
    stats: dict = {}
    with force_loop():
        looped = {r.id: r.component for r in bipartite_components(gr, stats=stats).collect()}
    assert stats["rounds"] >= 1 and "collapsed" not in stats, stats
    assert looped == generic


def test_bipartite_components_equals_generic_on_identity_fixture(spark, sf_dir):
    """Catalog parity: connected_components' oracle was written for the
    generic loop — the fast path must be value-identical on the real
    identity graph."""
    from anti_money_laundering_spark.graph import bipartite_components
    from anti_money_laundering_spark.plans.fixture_graphs import identity_graph

    gr = identity_graph(spark, sf_dir)
    fast = {r.id: r.component for r in bipartite_components(gr).collect()}
    generic = {r.id: r.component for r in gr.connected_components().collect()}
    assert fast == generic


def test_scc_long_chain_trims_in_zero_fwbw_rounds(spark):
    """A directed chain of 60 singleton SCCs previously exceeded
    max_outer=25 and SILENTLY dropped the tail (ADVICE r3). The trim
    pre-pass peels the whole chain without a single FW-BW round."""
    from anti_money_laundering_spark.graph import strongly_connected_components

    gr = g(spark, [(i, i + 1) for i in range(1, 60)])
    stats: dict = {}
    out = {r.id: r.scc_id for r in strongly_connected_components(gr, stats=stats).collect()}
    assert out == {i: i for i in range(1, 61)}
    assert stats["outer_rounds"] == 0
    assert stats["trim_peeled"] == 60


def test_scc_raises_when_outer_rounds_exhausted(spark):
    """Non-trivial SCCs survive trim; a chain of 2-cycles settles one
    SCC per FW-BW round, so max_outer=2 on 4 cycles must raise rather
    than return an incomplete result."""
    from anti_money_laundering_spark.graph import strongly_connected_components

    edges = []
    for i in range(4):
        a, b = 10 * i + 1, 10 * i + 2
        edges += [(a, b), (b, a)]
        if i:
            edges.append((10 * (i - 1) + 1, a))
    gr = g(spark, edges)
    with pytest.raises(RuntimeError, match="unsettled"):
        strongly_connected_components(gr, max_outer=2)


def test_aggregate_messages_both_directions(spark):
    from anti_money_laundering_spark.graph import Graph

    v = spark.createDataFrame([(1, 5.0), (2, 7.0), (3, 0.0)], "id long, risk double")
    e = spark.createDataFrame([(1, 2, 10.0), (2, 3, 4.0)], "src long, dst long, amount double")
    g = Graph(v, e)
    # dst receives edge amount + src's risk; src receives -amount
    out = {r.id: r.agg_msg for r in g.aggregate_messages(
        agg=F.sum("msg"),
        to_dst=F.col("edge.amount") + F.col("src.risk"),
        to_src=-F.col("edge.amount"),
    ).collect()}
    assert out == {1: -10.0, 2: (10.0 + 5.0) - 4.0, 3: 4.0 + 7.0}


def test_k_core_closed_form(spark):
    """K4 (clique) + a pendant chain hanging off it: the chain erodes
    round by round, the clique survives k=3 with core degree 3; k=5
    empties the graph (raising never: fixpoint reached when all gone)."""
    from anti_money_laundering_spark.graph import Graph
    from anti_money_laundering_spark.graph.algorithms import k_core

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
             (4, 5), (5, 6), (6, 7)]                           # chain
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    g = Graph(v, e)
    stats = {}
    got = {(r.id, r.core_degree) for r in k_core(g, 3, stats=stats).collect()}
    assert got == {(1, 3), (2, 3), (3, 3), (4, 3)}
    assert stats["rounds"] >= 2  # the chain peels over multiple rounds
    assert k_core(g, 5).count() == 0
    # degree collapses direction + multiplicity: duplicated/reversed
    # edges must not inflate degrees into a fake core
    dup = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    assert {(r.id, r.core_degree) for r in k_core(Graph(v, dup), 3).collect()} == got


def test_k_core_converges_within_oracle_rounds(spark, sf_dir):
    """The graph_k_core oracle unrolls exactly _K_CORE_ORACLE_ROUNDS
    peel rounds; extra rounds are no-ops AFTER the fixpoint, so the
    unroll is exact only if Spark's loop actually converges within
    them. Pin that here (pre-driver checklist: run at every SF)."""
    from anti_money_laundering_spark.graph.algorithms import k_core
    from anti_money_laundering_spark.plans.fixture_graphs import flow_graph
    from anti_money_laundering_spark.plans.graph_queries import (
        _K_CORE_K,
        _K_CORE_ORACLE_ROUNDS,
    )

    stats = {}
    k_core(flow_graph(spark, sf_dir), k=_K_CORE_K, stats=stats).count()
    assert stats["rounds"] <= _K_CORE_ORACLE_ROUNDS, stats


def test_bfs_closed_form(spark):
    """Diamond + a longer detour: BFS returns ALL minimum-length paths
    (both 2-hop arms of the diamond), stops there (the 3-hop detour is
    absent), tracks visited vertices, and returns the level-0 frame
    when from/to intersect."""
    from anti_money_laundering_spark.graph import Graph

    # 1->2->4, 1->3->4 (two 2-hop paths), 1->5->6->4 (3-hop detour)
    e = spark.createDataFrame(
        [(1, 2, "a"), (2, 4, "b"), (1, 3, "c"), (3, 4, "d"),
         (1, 5, "e"), (5, 6, "f"), (6, 4, "g")],
        "src long, dst long, name string",
    )
    v = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    g = Graph(v, e)
    out = g.bfs(F.col("id") == 1, F.col("id") == 4)
    assert out.columns == ["from", "e0", "v1", "e1", "to"]
    rows = {(r["from"].id, r.e0.name, r.v1.id, r.e1.name, r.to.id) for r in out.collect()}
    assert rows == {(1, "a", 2, "b", 4), (1, "c", 3, "d", 4)}
    # level 0: from satisfies to
    z = g.bfs(F.col("id") == 1, F.col("id") <= 1)
    assert z.columns == ["from", "to"] and z.count() == 1
    # unreachable within budget -> empty
    assert g.bfs(F.col("id") == 4, F.col("id") == 1, max_path_length=3).count() == 0
    # edge_filter prunes the short arms -> the detour becomes shortest
    long_way = g.bfs(
        F.col("id") == 1, F.col("id") == 4, edge_filter=~F.col("name").isin("a", "c")
    )
    assert long_way.columns == ["from", "e0", "v1", "e1", "v2", "e2", "to"]
    assert [(r.v1.id, r.v2.id) for r in long_way.collect()] == [(5, 6)]


def test_random_walks_closed_form(spark):
    """Deterministic walks: neighbor choice replays the md5 arithmetic,
    dead ends absorb, reruns are identical."""
    import hashlib

    from anti_money_laundering_spark.graph import Graph
    from anti_money_laundering_spark.graph.algorithms import random_walks

    e = spark.createDataFrame([(1, 2), (1, 3), (2, 4)], "src long, dst long")
    v = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    out = random_walks(Graph(v, e), walk_length=3, num_walks=2)
    rows = {(r.start, r.walk_no, r.step): r.node for r in out.collect()}

    def draw(start, w, t, deg):
        h = int(hashlib.md5(f"walk-v1{start}#{w}#{t}".encode()).hexdigest()[:8], 16)
        return h % deg

    adj = {1: [2, 3], 2: [4]}
    for start in (1, 2, 3, 4):
        for w in (0, 1):
            node = start
            assert rows[(start, w, 0)] == start
            for t in (1, 2, 3):
                nbrs = adj.get(node)
                node = nbrs[draw(start, w, t, len(nbrs))] if nbrs else node
                assert rows[(start, w, t)] == node, (start, w, t)
    # vertex 4 is a sink: all its walk rows stay at 4
    assert all(rows[(4, w, t)] == 4 for w in (0, 1) for t in range(4))


def test_k_core_and_bfs_empty_graph(spark):
    from anti_money_laundering_spark.graph import Graph
    from anti_money_laundering_spark.graph.algorithms import bfs, k_core, random_walks

    v = spark.createDataFrame([(1,), (2,)], "id long")
    e = spark.createDataFrame([], "src long, dst long")
    g = Graph(v, e)
    assert k_core(g, 1).count() == 0  # no edges -> no core members
    # no edges: no path between distinct vertices; empty (from, to) frame
    out = bfs(g, F.col("id") == 1, F.col("id") == 2, max_path_length=3)
    assert out.columns == ["from", "to"] and out.count() == 0
    # walks from isolated vertices absorb in place
    walks = random_walks(g, walk_length=2, num_walks=1)
    assert {r.node for r in walks.collect()} == {1, 2}
    assert walks.count() == 2 * 3  # 2 vertices x steps 0..2


def test_cc_hub_skew_bounded_rounds_and_correct(spark, force_loop):
    """Skew torture (r4 verdict item 5): one hub vertex carrying ~99%
    of all edges (degree 10k) with a 64-chain tail hanging off a spoke.
    The min-label loop must stay O(log diameter) — the hub cannot
    inflate the round count (its star collapses in one round; the
    chain dominates via pointer jumping) — and the answer is one
    component labeled by the hub's id 0."""
    from anti_money_laundering_spark.graph.components import connected_components

    hub = spark.range(10000).select(F.lit(0).alias("src"), (F.col("id") + 1).alias("dst"))
    chain = spark.range(63).select(
        (F.col("id") + 20000).alias("src"), (F.col("id") + 20001).alias("dst")
    )
    bridge = spark.createDataFrame([(1, 20000)], "src long, dst long")
    edges = hub.union(chain).union(bridge)
    verts = edges.select(F.col("src").alias("id")).union(edges.select("dst")).distinct()
    stats: dict = {}
    with force_loop():
        cc = connected_components(Graph(verts, edges), max_iter=20, stats=stats)
    comps = cc.select("component").distinct().collect()
    assert [r.component for r in comps] == [0]
    assert cc.count() == 10065
    # alternate-round pointer jumping: 64-chain alone measures 11
    # rounds; the hub must not add more than one extra settle round
    assert stats["rounds"] <= 13, stats


def test_cc_label_join_aqe_skew_split_engages(spark):
    """SCALE.md §CC claims the label join is AQE-skew-splittable; pin
    it. The exact join+min-agg shape of a CC round, run over a hub key
    holding ~100x the median partition's bytes with thresholds scaled
    to fixture size (on a cluster the same split fires at the default
    256MB threshold): the final adaptive plan must contain a
    skew=true sort-merge join. Equi-join on the label key with no
    required child distribution is precisely the form AQE can split —
    a salted or struct-keyed variant would silently lose this."""
    over = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved: dict = {}
    for k, v in over.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        hub = spark.range(100000).select(F.lit(0).alias("src"), (F.col("id") + 1).alias("dst"))
        bg = spark.range(1000).select(
            (F.col("id") % 50 + 1).alias("src"), (F.col("id") + 200000).alias("dst")
        )
        bi = hub.union(bg)
        labels = spark.range(300001).select("id", F.col("id").alias("component"))
        j = (
            bi.join(labels, bi.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("component"))
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pregel_hub_fanin_closed_form(spark):
    """Pregel under fan-in skew: 5k spokes all message one hub. The
    receive agg is a partial-aggregatable sum (map-side combine bounds
    the hub's shuffle rows by #partitions, not #edges); expected hub
    state is the closed-form spoke sum."""
    n = 5000
    edges = spark.range(1, n + 1).select(F.col("id").alias("src"), F.lit(0).alias("dst"))
    verts = spark.range(n + 1).select("id", F.col("id").cast("double").alias("w"))
    gr = Graph(verts, edges)
    out = gr.aggregate_messages(agg=F.sum("msg"), to_dst=F.col("src.w"))
    rows = {r.id: r.agg_msg for r in out.collect()}
    assert rows[0] == n * (n + 1) / 2
    assert len(rows) == 1  # only the hub receives messages


def test_pregel_trust_averaging_matches_simulation(spark):
    # r5 verdict item 7: dst-vertex-state messages. Trust averaging's
    # per-edge message is src.trust / dst.indeg — verify 3 supersteps
    # against a Python simulation on a small MULTIGRAPH (parallel edge
    # 1->4 doubles that neighbor's weight, and indeg counts edge rows).
    from anti_money_laundering_spark.graph.pregel import trust_averaging

    edges = [(1, 4), (2, 4), (1, 4), (3, 1), (4, 3)]
    scores = {1: 1.0, 2: 3.0, 3: 5.0, 4: 7.0}
    e_df = spark.createDataFrame(edges, "src long, dst long")
    v_df = spark.createDataFrame(list(scores.items()), "id long, s double")

    state = dict(scores)
    indeg = {}
    for _, d in edges:
        indeg[d] = indeg.get(d, 0) + 1
    for _ in range(3):
        inbox = {}
        for s, d in edges:
            inbox[d] = inbox.get(d, 0.0) + state[s] / indeg[d]
        state = {
            v: (0.5 * old + 0.5 * inbox[v]) if v in inbox else old
            for v, old in state.items()
        }

    got = {
        r.id: r.trust
        for r in trust_averaging(Graph(v_df, e_df), score_col="s", max_iter=3).collect()
    }
    assert got.keys() == state.keys()
    for v in state:
        assert abs(got[v] - state[v]) < 1e-9, (v, got[v], state[v])


def test_pregel_dst_state_auto_detection(spark):
    # the dst join is built ONLY when a message expression names
    # dst.<col>: risk propagation's plan must stay dst-join-free while
    # trust averaging's carries the second vertex join.
    from anti_money_laundering_spark.graph.pregel import _references_dst

    assert not _references_dst(F.col("src.risk_score") / 2)
    assert _references_dst(F.try_divide(F.col("src.trust"), F.col("dst.__ta_indeg")))
    # and forcing use_dst_state=True on a src-only message still works
    from anti_money_laundering_spark.graph.pregel import pregel

    e_df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    v_df = spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 4.0)], "id long, r double")
    out = pregel(
        Graph(v_df, e_df),
        state_col="score",
        initial_expr=F.col("r"),
        msg_to_dst=F.col("src.score"),
        update_expr=F.coalesce(F.col("msg"), F.col("score")),
        max_iter=1,
        use_dst_state=True,
    )
    assert {r.id: r.score for r in out.collect()} == {1: 1.0, 2: 1.0, 3: 2.0}


def test_pregel_dst_state_left_join_keeps_dangling_edge_messages(spark):
    # r6 review finding: enabling dst-state must not change msg_to_src
    # semantics on a dangling edge (dst missing from the vertex table).
    from anti_money_laundering_spark.graph.pregel import pregel

    e_df = spark.createDataFrame([(1, 2), (2, 99)], "src long, dst long")  # 99 dangling
    v_df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, r double")

    def run(use_dst):
        out = pregel(
            Graph(v_df, e_df),
            state_col="score",
            initial_expr=F.col("r"),
            msg_to_dst=None,
            msg_to_src=F.lit(10.0),  # src of every edge gets 10
            update_expr=F.coalesce(F.col("msg"), F.col("score")),
            max_iter=1,
            use_dst_state=use_dst,
        )
        return {r.id: r.score for r in out.collect()}

    # vertex 2's only edge dangles; its message must survive either way
    assert run(False) == run(True) == {1: 10.0, 2: 10.0}


def test_pregel_dst_join_only_when_referenced(spark):
    # plan-shape guard on the auto-detection: a src-only message plans
    # ONE vertex join per superstep; a dst-referencing message plans
    # TWO. If _references_dst ever breaks, one of these counts moves.
    from anti_money_laundering_spark.graph.pregel import pregel
    from tests.test_plans import explain_str

    e_df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    v_df = spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 4.0)], "id long, r double")

    def plan_of(msg):
        # checkpoint_interval=2 with max_iter=1: the superstep is NOT
        # eagerly checkpointed, so its joins stay visible in the plan
        out = pregel(
            Graph(v_df, e_df),
            state_col="s",
            initial_expr=F.col("r"),
            msg_to_dst=msg,
            update_expr=F.coalesce(F.col("msg"), F.col("s")),
            max_iter=1,
            checkpoint_interval=2,
        )
        return explain_str(out, "simple")

    n_src = plan_of(F.col("src.s")).count("Join")
    n_dst = plan_of(F.try_divide(F.col("src.s"), F.col("dst.r"))).count("Join")
    assert n_src >= 1 and n_dst == n_src + 1, (n_src, n_dst)


def test_references_dst_detects_all_access_styles(spark):
    # r6 advice: the substring scan missed getItem/getField access and
    # false-positived on string literals containing "dst.". The
    # detector now strips quoted literal segments from the unresolved
    # repr and anchors on dst. / dst[ at non-word boundaries.
    from anti_money_laundering_spark.graph.pregel import _references_dst

    assert _references_dst(F.col("dst.score") / 2)
    assert _references_dst(F.col("dst")["score"])
    assert _references_dst(F.col("dst").getField("score"))
    assert _references_dst(F.coalesce(F.col("msg"), F.col("dst.old")))
    assert _references_dst(F.when(F.col("msg").isNull(), F.col("dst.v")).otherwise(F.lit(0)))
    assert not _references_dst(F.lit("dst.x"))
    assert not _references_dst(F.concat(F.lit("a dst. b"), F.col("x")))
    assert not _references_dst(F.col("src.score") + F.col("msg"))
    assert not _references_dst(F.col("xdst.score"))


def test_references_dst_survives_escaped_quotes_in_literals(spark):
    # Review finding: the repr escapes quotes inside literals as \' —
    # a bare split on ' flipped code/literal parity after "don't" and
    # hid a genuine dst reference (missing the dst join entirely).
    from anti_money_laundering_spark.graph.pregel import _references_dst

    assert _references_dst(
        F.when(F.col("msg") == F.lit("don't"), F.col("dst.v")).otherwise(F.lit(0))
    )
    assert not _references_dst(
        F.when(F.col("msg") == F.lit("don't dst."), F.col("src.v")).otherwise(F.lit(0))
    )


def test_k_truss_matches_bruteforce_peel(spark):
    """k-truss (r7) vs a reference set-based peel on a graph with a
    known decomposition: a 5-clique (every edge in >= 3 triangles), a
    triangle pendant sharing one vertex, a hub-and-spoke star (no
    triangles — must erode entirely), and a chain."""
    import itertools

    clique = list(itertools.combinations(range(5), 2))
    pendant = [(4, 10), (4, 11), (10, 11)]
    star = [(20, s) for s in range(21, 31)]
    chain = [(40, 41), (41, 42), (42, 43)]
    all_edges = clique + pendant + star + chain

    def brute(k):
        es = {tuple(sorted(e)) for e in all_edges}
        while True:
            def supp(e):
                a, b = e
                return sum(
                    1
                    for c in {v for x, y in es for v in (x, y)}
                    if c not in e and tuple(sorted((a, c))) in es and tuple(sorted((b, c))) in es
                )
            drop = {e for e in es if supp(e) < k - 2}
            if not drop:
                return es
            es -= drop

    from anti_money_laundering_spark.graph import Graph
    from anti_money_laundering_spark.graph.algorithms import k_truss

    edf = spark.createDataFrame(all_edges, "src long, dst long")
    vdf = edf.select(F.col("src").alias("id")).union(edf.select("dst")).distinct()
    for k in (3, 4, 5):
        got = {(r.a, r.b) for r in k_truss(Graph(vdf, edf), k=k).collect()}
        assert got == brute(k), k
    # support values on the 3-truss: clique edges carry 3, triangle 1
    sup = {(r.a, r.b): r.support for r in k_truss(Graph(vdf, edf), k=3).collect()}
    assert sup[(0, 1)] == 3 and sup[(10, 11)] == 1


def test_k_truss_converges_within_oracle_rounds(spark, sf_dir):
    """The graph_k_truss oracle unrolls _K_TRUSS_ORACLE_ROUNDS peel
    rounds; the engine must reach its fixpoint within that budget at
    every SF (same pin discipline as k-core). Re-probe after any
    events.parquet regen."""
    from anti_money_laundering_spark.graph.algorithms import k_truss
    from anti_money_laundering_spark.plans.fixture_graphs import flow_graph
    from anti_money_laundering_spark.plans.graph_queries import (
        _K_TRUSS_K,
        _K_TRUSS_ORACLE_ROUNDS,
    )

    stats: dict = {}
    out = k_truss(flow_graph(spark, sf_dir), k=_K_TRUSS_K, stats=stats)
    assert out.count() > 0
    assert stats["rounds"] <= _K_TRUSS_ORACLE_ROUNDS, stats


# ---------------------------------------------------------------------------
# Landmark betweenness (Brandes)
# ---------------------------------------------------------------------------


def _brandes_python(edges, sources):
    """Textbook Brandes (BFS + dependency accumulation) restricted to
    the given sources — the oracle for the distributed formulation."""
    from collections import defaultdict, deque

    adj = defaultdict(list)
    verts = set()
    for s, d in edges:
        adj[s].append(d)
        verts.update((s, d))
    bc = dict.fromkeys(verts, 0.0)
    for s in sources:
        if s not in verts:
            continue
        order, preds = [], defaultdict(list)
        sigma, dist = defaultdict(float), {s: 0}
        sigma[s] = 1.0
        queue = deque([s])
        while queue:
            v = queue.popleft()
            order.append(v)
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    queue.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = defaultdict(float)
        while order:
            w = order.pop()
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


def test_betweenness_equals_brandes_on_random_graphs(spark):
    import random

    from anti_money_laundering_spark.graph import betweenness

    for seed in (3, 9):
        rng = random.Random(seed)
        n = 40
        edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(150)}
        edges = [(a, b) for a, b in edges if a != b]
        e_df = spark.createDataFrame(edges, "src long, dst long")
        v_df = e_df.select(F.col("src").alias("id")).union(e_df.select("dst")).distinct()
        sources = [0, 1, 2]
        got = {r.id: r.betweenness for r in betweenness(Graph(v_df, e_df), sources).collect()}
        exp = _brandes_python(edges, sources)
        assert set(got) == set(exp)
        assert all(abs(got[v] - exp[v]) < 1e-9 for v in exp), seed


def test_betweenness_on_fixture_flow_graph(spark, sf_dir):
    from anti_money_laundering_spark.graph import betweenness
    from anti_money_laundering_spark.plans.fixture_graphs import flow_graph

    g = flow_graph(spark, sf_dir)
    edges = [
        (r.src, r.dst)
        for r in g.edges.select("src", "dst").filter("src <> dst").distinct().collect()
    ]
    got = {r.id: r.betweenness for r in betweenness(g, [0, 1, 2, 3]).collect()}
    exp = _brandes_python(edges, [0, 1, 2, 3])
    assert all(abs(got.get(v, 0.0) - exp[v]) < 1e-9 for v in exp)


def test_betweenness_chain_and_diamond(spark):
    from anti_money_laundering_spark.graph import betweenness

    # chain 0->1->2->3: from source 0, vertex 1 carries 2 pairs, 2 carries 1
    chain = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    v = chain.select(F.col("src").alias("id")).union(chain.select("dst")).distinct()
    got = {r.id: r.betweenness for r in betweenness(Graph(v, chain), [0]).collect()}
    assert got == {0: 0.0, 1: 2.0, 2: 1.0, 3: 0.0}
    # diamond 0->{1,2}->3: two equal shortest paths split the dependency
    dia = spark.createDataFrame([(0, 1), (0, 2), (1, 3), (2, 3)], "src long, dst long")
    v = dia.select(F.col("src").alias("id")).union(dia.select("dst")).distinct()
    got = {r.id: r.betweenness for r in betweenness(Graph(v, dia), [0]).collect()}
    assert got == {0: 0.0, 1: 0.5, 2: 0.5, 3: 0.0}


def test_edge_betweenness_equals_brandes(spark):
    import random
    from collections import defaultdict, deque

    from anti_money_laundering_spark.graph import edge_betweenness

    def brandes_edges(edges, sources):
        adj = defaultdict(list)
        verts = set()
        for s, d in edges:
            adj[s].append(d)
            verts.update((s, d))
        eb = defaultdict(float)
        for s in sources:
            if s not in verts:
                continue
            order, preds = [], defaultdict(list)
            sigma, dist = defaultdict(float), {s: 0}
            sigma[s] = 1.0
            queue = deque([s])
            while queue:
                v = queue.popleft()
                order.append(v)
                for w in adj[v]:
                    if w not in dist:
                        dist[w] = dist[v] + 1
                        queue.append(w)
                    if dist[w] == dist[v] + 1:
                        sigma[w] += sigma[v]
                        preds[w].append(v)
            delta = defaultdict(float)
            while order:
                w = order.pop()
                for v in preds[w]:
                    c = sigma[v] / sigma[w] * (1 + delta[w])
                    delta[v] += c
                    eb[(v, w)] += c
        return eb

    rng = random.Random(17)
    n = 35
    edges = [(a, b) for a, b in {(rng.randrange(n), rng.randrange(n)) for _ in range(120)} if a != b]
    e_df = spark.createDataFrame(edges, "src long, dst long")
    v_df = e_df.select(F.col("src").alias("id")).union(e_df.select("dst")).distinct()
    got = {(r.src, r.dst): r.betweenness for r in edge_betweenness(Graph(v_df, e_df), [0, 1]).collect()}
    exp = brandes_edges(edges, [0, 1])
    assert set(got) == set(edges)
    assert all(abs(got[e] - exp.get(e, 0.0)) < 1e-9 for e in got)
    # consistency: vertex betweenness of v == sum of deps on v's in-edges
    # minus... (not an identity across sources); instead check the chain:
    chain = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    v = chain.select(F.col("src").alias("id")).union(chain.select("dst")).distinct()
    got_c = {(r.src, r.dst): r.betweenness for r in edge_betweenness(Graph(v, chain), [0]).collect()}
    assert got_c == {(0, 1): 3.0, (1, 2): 2.0, (2, 3): 1.0}


def test_betweenness_collapse_equals_loop(spark, force_loop):
    """The r14 single-task collapse (default, gated on |edges| x
    |landmarks|) and the distributed per-level loop
    (under ``force_loop``) must agree on random multigraphs and
    shapes with ties/unreachable pockets — within float summation
    order (<=1e-9; measured divergence is ulp-scale, 12 orders under
    the round(6) surface both catalog queries emit). Keeps the loop
    path exercised in CI now that small fixtures take the collapse,
    and pins the truncation guard's eager RuntimeError on BOTH paths."""
    import random

    from anti_money_laundering_spark.graph import Graph, betweenness, edge_betweenness

    for seed in (5, 21):
        rng = random.Random(seed)
        n = 30
        edges = [
            (a, b)
            for a, b in {(rng.randrange(n), rng.randrange(n)) for _ in range(110)}
            if a != b
        ]
        e_df = spark.createDataFrame(edges, "src long, dst long")
        v_df = e_df.select(F.col("src").alias("id")).union(e_df.select("dst")).distinct()
        g = Graph(v_df, e_df)
        sources = [0, 1, 2]
        fast = {r.id: r.betweenness for r in betweenness(g, sources).collect()}
        efast = {(r.src, r.dst): r.betweenness for r in edge_betweenness(g, sources).collect()}
        with force_loop():
            slow = {r.id: r.betweenness for r in betweenness(g, sources).collect()}
            eslow = {
                (r.src, r.dst): r.betweenness
                for r in edge_betweenness(g, sources).collect()
            }
        assert set(fast) == set(slow)
        assert all(abs(fast[v] - slow[v]) < 1e-9 for v in fast), seed
        assert set(efast) == set(eslow)
        assert all(abs(efast[e] - eslow[e]) < 1e-9 for e in efast), seed
    # truncation guard raises eagerly on both paths
    chain = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    v = chain.select(F.col("src").alias("id")).union(chain.select("dst")).distinct()
    with pytest.raises(RuntimeError, match="still expanding"):
        betweenness(Graph(v, chain), [0], max_iter=2)
    with force_loop(), pytest.raises(RuntimeError, match="still expanding"):
        betweenness(Graph(v, chain), [0], max_iter=2)


def test_modularity_matches_hand_computation(spark):
    """Two triangles joined by one bridge, communities = the triangles:
    m=7, e_c=3, d_c=7 each -> q = 3/7 - (7/14)^2 = 0.17857...; Q sums
    to 0.357. Direction/multiplicity/self-loops must collapse first,
    and a community with no internal edges must still get a row."""
    from anti_money_laundering_spark.graph import Graph, modularity

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4),
         (2, 1),   # reverse duplicate: same undirected edge
         (5, 5),   # self-loop: dropped
         (7, 7)],  # isolated-but-for-self-loop vertex
        "src long, dst long",
    )
    v = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    labels = spark.createDataFrame(
        [(1, "t1"), (2, "t1"), (3, "t1"), (4, "t2"), (5, "t2"), (6, "t2"), (7, "lone")],
        "id long, label string",
    )
    rows = {r["community"]: r for r in modularity(Graph(v, e), labels).collect()}
    assert rows["t1"]["e_internal"] == 3 and rows["t2"]["e_internal"] == 3
    assert rows["t1"]["d_total"] == 7 and rows["t2"]["d_total"] == 7
    assert abs(rows["t1"]["q_contrib"] - (3 / 7 - (7 / 14) ** 2)) < 1e-12
    assert rows["lone"]["n_nodes"] == 1 and rows["lone"]["e_internal"] == 0
    assert rows["lone"]["d_total"] == 0 and rows["lone"]["q_contrib"] == 0.0
    q_total = sum(r["q_contrib"] for r in rows.values())
    assert abs(q_total - 2 * (3 / 7 - 0.25)) < 1e-12


def test_hits_matches_numpy_power_iteration(spark):
    """HITS on random directed graphs vs the same fixed-iteration
    normalized power method in numpy (round-6 agreement)."""
    import random

    import numpy as np

    from anti_money_laundering_spark.graph import Graph, hits

    rng = random.Random(99)
    for _ in range(3):
        n = rng.randrange(4, 12)
        edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(3, 25))}
        edges = [(a, b) for a, b in edges]
        A = np.zeros((n, n))
        for a, b in edges:
            A[a, b] = 1.0
        h = np.ones(n)
        for _ in range(2):
            a = A.T @ h
            na = np.linalg.norm(a)
            a = a / na if na > 0 else a * 0.0
            h = A @ a
            nh = np.linalg.norm(h)
            h = h / nh if nh > 0 else h * 0.0
        verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
        edf = spark.createDataFrame(edges, "src long, dst long")
        got = {r.id: (round(r.hub, 6), round(r.authority, 6))
               for r in hits(Graph(verts, edf), max_iter=2).collect()}
        for i in range(n):
            assert got[i] == (round(float(h[i]), 6), round(float(a[i]), 6)), i


def test_betweenness_exact_eccentricity_boundary_and_truncation_guard(spark):
    """max_iter equal to the landmark eccentricity is a COMPLETED BFS
    (must return results, not raise — second review pass); max_iter
    below it is a truncation (must raise, never emit corrupted
    deltas)."""
    from anti_money_laundering_spark.graph import Graph, betweenness

    verts = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    g = Graph(verts, edges)
    want = {r.id: r.betweenness for r in betweenness(g, [0], max_iter=10).collect()}
    got = {r.id: r.betweenness for r in betweenness(g, [0], max_iter=3).collect()}
    assert got == want
    with pytest.raises(RuntimeError, match="still expanding"):
        betweenness(g, [0], max_iter=2)


def test_weighted_sssp_matches_python_bellman_ford(spark):
    """Random weighted digraphs vs a plain-python Bellman-Ford limited
    to the same hop budget; a diameter-sized budget must equal full
    (unlimited-hop) min-cost distances; max_iter guard raises."""
    import random

    from anti_money_laundering_spark.graph import Graph, weighted_sssp

    rng = random.Random(77)
    for _ in range(3):
        n = rng.randrange(4, 10)
        edges = [
            (rng.randrange(n), rng.randrange(n), round(rng.uniform(0.5, 5.0), 2))
            for _ in range(rng.randrange(4, 18))
        ]
        edges = [(a, b, w) for a, b, w in edges if a != b]
        hops = 4
        # reference: hop-limited Bellman-Ford
        want = {}
        for s in (0, 1):
            dist = {s: 0.0}
            for _ in range(hops):
                new = dict(dist)
                for a, b, w in edges:
                    if a in dist and dist[a] + w < new.get(b, float("inf")):
                        new[b] = dist[a] + w
                dist = new
            for v, d in dist.items():
                want[(v, s)] = round(d, 6)
        # true min-cost reference: relax n-1 times (no hop limit binds)
        want_full = {}
        for s_ in (0, 1):
            dist = {s_: 0.0}
            for _ in range(n - 1):
                for a, b, w in edges:
                    if a in dist and dist[a] + w < dist.get(b, float("inf")):
                        dist[b] = dist[a] + w
            for v, d in dist.items():
                want_full[(v, s_)] = round(d, 6)
        verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
        edf = spark.createDataFrame(edges, "src long, dst long, amount double")
        g = Graph(verts, edf)
        got = {
            (r.id, r.source): round(r.dist, 6)
            for r in weighted_sssp(g, [0, 1], max_iter=hops).collect()
        }
        assert got == want
        # with the hop budget at n-1 (>= diameter) the fixed-round
        # relaxation must have converged to the true min costs — extra
        # rounds past convergence must never corrupt settled distances
        got_full = {
            (r.id, r.source): round(r.dist, 6)
            for r in weighted_sssp(g, [0, 1], max_iter=n - 1).collect()
        }
        assert got_full == want_full
    with pytest.raises(ValueError, match="max_iter"):
        weighted_sssp(g, [0], max_iter=0)


def test_densest_peel_matches_python_simulation(spark, force_loop):
    """Random graphs vs a direct python simulation of the parallel
    peel; a planted clique must dominate the best round's density."""
    import random

    from anti_money_laundering_spark.graph import Graph, densest_subgraph_peel

    rng = random.Random(21)
    for trial in range(2):
        n = rng.randrange(10, 25)
        und = {tuple(sorted((rng.randrange(n), rng.randrange(n)))) for _ in range(rng.randrange(8, 40))}
        und = {(a, b) for a, b in und if a != b}
        # plant a 6-clique so the peel has something denser to find
        clique = list(range(n, n + 6))
        und |= {(a, b) for i, a in enumerate(clique) for b in clique[i + 1:]}
        eps = 0.5
        S = {v for e in und for v in e}
        want = []
        for i in range(6):
            E = [e for e in und if e[0] in S and e[1] in S]
            if not S:
                break
            rho = len(E) / len(S)
            want.append((i, len(S), len(E), rho))
            deg = {}
            for a, b in E:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            S = {v for v in S if deg.get(v, 0) > 2 * (1 + eps) * rho}
        verts = spark.createDataFrame([(v,) for v in {x for e in und for x in e}], "id long")
        edges = spark.createDataFrame(list(und), "src long, dst long")
        got = densest_subgraph_peel(Graph(verts, edges), eps=eps, max_rounds=6)
        assert [(r[0], r[1], r[2], round(r[3], 9)) for r in got] == [
            (i, v, e, round(r, 9)) for i, v, e, r in want
        ], trial
        # the r14 single-task collapse (default on small graphs) must be
        # BIT-equal to the distributed loop — integer counts + the same
        # python-float rho, so exact equality, not a tolerance
        with force_loop():
            loop = densest_subgraph_peel(Graph(verts, edges), eps=eps, max_rounds=6)
        assert got == loop, trial
        best_rho = max(r[3] for r in got)
        assert best_rho >= (15 / 6) / (1 + 1)  # clique density within approx factor
    with pytest.raises(ValueError, match="eps"):
        densest_subgraph_peel(Graph(verts, edges), eps=0.0)


def test_temporal_reachability_library_surface(spark):
    """Direct library contract for graph.temporal_reachability:
    max_hops validation and the 1-hop degenerate case (only direct
    edges, earliest arrival per (seed, node) across duplicates)."""
    import pytest as _pytest

    from anti_money_laundering_spark.graph import temporal_reachability

    edges = spark.createDataFrame(
        [(1, 2, 100), (1, 2, 50), (2, 3, 200)], "src long, dst long, us long"
    )
    seeds = spark.createDataFrame([(1,)], "seed long")
    with _pytest.raises(ValueError, match="max_hops"):
        temporal_reachability(edges, seeds, max_hops=0)
    got = {
        (r.seed, r.node): r
        for r in temporal_reachability(edges, seeds, max_hops=1).collect()
    }
    assert set(got) == {(1, 2)}
    assert (got[(1, 2)].min_hops, got[(1, 2)].first_us) == (1, 50)
    # 2 hops picks up the onward edge strictly after the arrival
    got2 = {
        (r.seed, r.node): r
        for r in temporal_reachability(edges, seeds, max_hops=2).collect()
    }
    assert (got2[(1, 3)].min_hops, got2[(1, 3)].first_us) == (2, 200)


def test_temporal_reachability_persist_mode_parity(spark, sf_dir):
    """persist_levels=True must return exactly the default recompute
    plan's rows (it is a physical-plan trade, SCALE.md
    §r13-corridor-tracing — never a semantic switch); cache cleared
    afterwards so later tests see no cached levels."""
    from pyspark.sql import functions as F

    from anti_money_laundering_spark.graph import temporal_reachability
    from anti_money_laundering_spark.plans.fixture_graphs import flow_graph
    from anti_money_laundering_spark.sources import load_table

    edges = flow_graph(spark, sf_dir).edges.select(
        "src", "dst", F.unix_micros("ts").alias("us")
    )
    seeds = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") > 200.0)
        .select(F.col("user_id").alias("seed"))
        .distinct()
    )
    base = sorted(
        map(tuple, temporal_reachability(edges, seeds).collect())
    )
    try:
        cached = sorted(
            map(
                tuple,
                temporal_reachability(edges, seeds, persist_levels=True).collect(),
            )
        )
    finally:
        spark.catalog.clearCache()
    assert cached == base
    assert base, "fixture must trace at least one account"
