"""Graph algorithms beyond the reference's four (degrees/CC/motif/
Pregel): the rest of the GraphFrames algorithm surface (triangle
count, landmark shortest paths, label propagation, SCC, BFS — the
toolkit 01_aml_network_analysis.py:78-459 delegates to GraphFrames
for) plus the standard centrality/cohesion extensions a graph
analytics user expects: landmark Brandes betweenness (vertex + edge),
Kleinberg HITS, k-core and k-truss peels, weighted Bellman-Ford
shortest paths, deterministic random walks.

All follow this package's iterative-driver discipline (SURVEY §4:
algorithmic drivers around Catalyst, no custom rules): joins keyed on
vertex ids, ``localCheckpoint`` to truncate loop lineage,
deterministic outputs (min-id tie-breaks, fixed round counts) so
every algorithm is DuckDB-oracle-replayable — unlike GraphFrames'
hash-based LPA tie-breaks or packed component ids.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from anti_money_laundering_spark.graph.components import _single_task_collapse

if TYPE_CHECKING:
    from anti_money_laundering_spark.graph import Graph

__all__ = [
    "triangle_count",
    "shortest_paths",
    "betweenness",
    "edge_betweenness",
    "label_propagation",
    "strongly_connected_components",
    "k_core",
    "k_truss",
    "modularity",
    "bfs",
    "random_walks",
    "hits",
    "weighted_sssp",
    "densest_subgraph_peel",
    "temporal_reachability",
]


def _canonical_undirected(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges as (a, b) with a < b — self-loops
    dropped, direction and multiplicity collapsed."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def triangle_count(graph: "Graph") -> DataFrame:
    """Per-vertex triangle count (GraphFrames ``triangleCount``):
    ``(id, n_triangles)`` over the undirected simple graph.

    Degree-ordered enumeration (Chiba–Nishizeki / Cohen's MapReduce
    orientation): every undirected edge is oriented from the endpoint
    with the SMALLER (degree, id) key to the larger, making the edge
    set a DAG whose out-degrees are O(sqrt(m)); wedges are generated
    only at each triangle's unique minimum-key apex (two out-edges),
    so the intermediate wedge count is bounded by arboricity — sum of
    out-degree² ≤ O(m^1.5) instead of the un-oriented sum of degree²,
    which a single high-degree hub would otherwise blow up. The
    closing edge lookup joins wedges against the oriented edge list on
    (v, w); only one of a wedge's two (v, w) orders can match, so each
    triangle lands exactly once. All joins are equi-joins on vertex
    keys (AQE-skew-splittable); nothing is broadcast unconditionally.
    """
    und = _canonical_undirected(graph.edges)
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("__d"))
    )
    with_deg = und.join(
        deg.select(F.col("id").alias("a"), F.col("__d").alias("__da")), "a"
    ).join(deg.select(F.col("id").alias("b"), F.col("__d").alias("__db")), "b")
    a_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), "u")
        .select("u", F.col("e1.v").alias("v"), F.col("e2.v").alias("w"))
        .filter(F.col("v") != F.col("w"))
    )
    tri = wedges.join(
        oriented.select(F.col("u").alias("v"), F.col("v").alias("w")), ["v", "w"]
    )
    per_vertex = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        graph.vertices.select("id")
        .join(per_vertex, "id", "left")
        .select("id", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"))
    )


def shortest_paths(
    graph: "Graph",
    landmarks: Sequence,
    max_iter: int = 20,
) -> DataFrame:
    """Hop distance from every vertex to each reachable landmark along
    DIRECTED edges (GraphFrames ``shortestPaths`` semantics):
    ``(id, landmark, distance)``; unreachable pairs are absent.

    Backward BFS relaxation: if v→u and dist(u, L) = d then
    dist(v, L) ≤ d+1. Each round is one edges⋈distances equi-join plus
    a min-groupBy — shuffles keyed on vertex id; ``localCheckpoint``
    (lazy) per round truncates lineage and the fixpoint test rides the
    same job (count + distance-sum stable ⇒ no relaxation happened),
    mirroring the connected-components loop (components.py).
    """
    lm = [int(x) for x in landmarks]
    dist = (
        graph.vertices.select("id")
        .filter(F.col("id").isin(lm))
        .select("id", F.col("id").alias("landmark"), F.lit(0).alias("distance"))
        .localCheckpoint(eager=False)
    )
    edges = graph.edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()

    def _state(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("distance"), F.lit(0)).alias("s"),
        ).collect()[0]
        return (row["n"], row["s"])

    prev = _state(dist)
    for _ in range(max_iter):
        relaxed = (
            edges.join(dist, edges.dst == dist.id)
            .select(
                edges.src.alias("id"),
                "landmark",
                (F.col("distance") + 1).alias("distance"),
            )
        )
        dist = (
            dist.union(relaxed)
            .groupBy("id", "landmark")
            .agg(F.min("distance").alias("distance"))
            .localCheckpoint(eager=False)
        )
        cur = _state(dist)
        if cur == prev:
            break
        prev = cur
    return dist


def betweenness(
    graph: "Graph",
    sources: Sequence,
    max_iter: int = 20,
) -> DataFrame:
    """Landmark betweenness centrality (Brandes 2001 restricted to a
    FIXED source set): for each vertex v, the sum over the given
    sources s (s != v) of the pair-dependency
    delta_s(v) = sum_{t} sigma_st(v) / sigma_st — how much shortest-
    path traffic out of the landmarks flows THROUGH v along directed
    edges. With sources = all vertices this is exact betweenness; a
    fixed landmark set is the standard sampled estimator made
    DETERMINISTIC (no RNG — the source list is the sample), which is
    what lets the whole computation be oracle-replayed.

    Two bounded phases of per-round equi-join + groupBy, both keyed on
    vertex id and ``localCheckpoint``-truncated like shortest_paths:

    - forward: BFS from all sources at once over distinct simple
      edges, accumulating sigma (shortest-path COUNTS) with a
      sum-groupBy per level — a vertex's sigma is the sum of its
      level-(d-1) predecessors' sigmas;
    - backward: dependency accumulation from the deepest level up,
      delta(v) = sum over shortest-path successors w of
      sigma_v / sigma_w * (1 + delta(w)); the forward pass keeps one
      checkpointed frame PER LEVEL (r14 — no re-checkpointed running
      union), so each backward round joins one level frame against
      the next.

    Returns (id, betweenness) for every vertex (0.0 when no shortest
    path passes through). Sources sit at level 0 and interior vertices
    at level >= 1, so endpoint exclusion falls out of the level
    structure. ~2 * diameter rounds total.

    Small graphs collapse (r14; the connected_components small-graph
    collapse applied to Brandes): when the counted distinct-edge table
    times the landmark count fits ``SMALL_GRAPH_COLLAPSE_ROWS``, both
    passes run in ONE single-task vectorized pass
    (:func:`_brandes_collapse`) instead of ~2 x diameter
    scheduling-floor-bound rounds. Exact same level/sigma/delta
    arithmetic.
    """
    verts = graph.vertices.select("id")
    acc, _ = _brandes(graph, sources, max_iter, want_edges=False)
    if acc is None:
        return verts.select("id", F.lit(0.0).alias("betweenness"))
    totals = acc.groupBy("v").agg(F.sum("delta").alias("betweenness"))
    return verts.join(totals, verts["id"] == totals["v"], "left").select(
        "id", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
    )


def edge_betweenness(
    graph: "Graph",
    sources: Sequence,
    max_iter: int = 20,
) -> DataFrame:
    """Landmark EDGE betweenness (the Girvan-Newman 2002 primitive):
    for each distinct simple edge (v, w), the summed pair-dependency
    sigma_sv / sigma_sw * (1 + delta_s(w)) over the given sources —
    how much landmark shortest-path flow crosses the edge. Removing
    the top-scoring edges and re-running connected components is one
    Girvan-Newman community-splitting step. Same two Brandes passes as
    ``betweenness`` (the per-edge terms are the backward pass's inner
    sum, captured before the per-vertex aggregation, including the
    level-0 source out-edges that vertex betweenness never needs).
    Returns (src, dst, betweenness) for every distinct simple edge.
    Small graphs collapse as in :func:`betweenness`."""
    edges = (
        graph.edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    _, e_acc = _brandes(graph, sources, max_iter, want_edges=True)
    if e_acc is None:
        return edges.select("src", "dst", F.lit(0.0).alias("betweenness"))
    totals = (
        e_acc.groupBy("v", "w").agg(F.sum("dep").alias("betweenness"))
        .select(F.col("v").alias("src"), F.col("w").alias("dst"), "betweenness")
    )
    return edges.join(totals, ["src", "dst"], "left").select(
        "src", "dst", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
    )


def _brandes_collapse(
    graph: "Graph",
    edges: DataFrame,
    src_list: list[int],
    max_iter: int,
    want_edges: bool,
) -> DataFrame | None:
    """Exact landmark Brandes over a SMALL distinct-edge list in one
    task (work measure: |edges| x |landmarks|, since each landmark is
    one BFS over the edge arrays — the gate is work-proportional, not
    just size-proportional, the _widen_for_work precedent). Both
    passes run as vectorized per-level numpy masks — identical level
    structure, sigma sums (integer-valued doubles, order-exact) and
    delta/dep arithmetic as the distributed loop, so the only
    divergence class is float SUMMATION ORDER inside a delta/dep sum,
    the same class the Spark loop's own partial aggregation already
    leaves unspecified (both are pinned within 1e-9 of textbook
    Brandes by tests/test_graph.py and at round(6) by the catalog
    oracles). Returns the (s, v, delta) vertex frame or the
    (s, v, w, dep) edge-term frame per ``want_edges``, or None when the
    gate refuses; the task raises the same still-expanding
    RuntimeError as the loop when ``max_iter`` levels do not exhaust a
    landmark's reachable set."""
    dt = edges.schema["src"].dataType
    names = ["s", "v", "w", "dep"] if want_edges else ["s", "v", "delta"]
    out_schema = T.StructType(
        [T.StructField(c, dt) for c in names[:-1]]
        + [T.StructField(names[-1], T.DoubleType())]
    )

    def _present() -> tuple:
        # Mirror the loop's frontier seeding: only landmarks present in
        # the vertex table participate (contract: vertex ids unique).
        return (
            sorted(
                int(r[0])
                for r in graph.vertices.select("id")
                .filter(F.col("id").isin(src_list))
                .distinct()
                .collect()
            ),
        )

    def _run(esrc, edst, sources_present):
        import numpy as np
        import pandas as pd

        ids, inv = np.unique(np.concatenate([esrc, edst]), return_inverse=True)
        ea, eb = inv[: len(esrc)], inv[len(esrc) :]
        n = len(ids)
        pos = {int(x): i for i, x in enumerate(ids)}
        parts: list[list] = [[] for _ in names]
        for s in sources_present:
            si = pos.get(int(s))
            if si is None:
                continue  # landmark with no incident edge: nothing to emit
            dist = np.full(n, -1, dtype=np.int64)
            sigma = np.zeros(n, dtype=np.float64)
            dist[si] = 0
            sigma[si] = 1.0
            depth = 0
            while depth < max_iter:
                at_d = dist[ea] == depth
                new = at_d & (dist[eb] == -1)
                if not new.any():
                    break
                dist[eb[new]] = depth + 1
                # shortest-path edges d -> d+1 (including into vertices
                # other in-edges of this round just reached)
                lv = at_d & (dist[eb] == depth + 1)
                np.add.at(sigma, eb[lv], sigma[ea[lv]])
                depth += 1
            else:
                still = (dist[ea] == max_iter) & (dist[eb] == -1)
                if still.any():
                    raise RuntimeError(
                        f"betweenness BFS still expanding after max_iter={max_iter} "
                        "levels; raise max_iter above the landmark eccentricity"
                    )
            delta = np.zeros(n, dtype=np.float64)
            for lvl in range(depth - 1, -1 if want_edges else 0, -1):
                m = (dist[ea] == lvl) & (dist[eb] == lvl + 1)
                if not m.any():
                    continue
                ve, we = ea[m], eb[m]
                dep = sigma[ve] / sigma[we] * (1.0 + delta[we])
                np.add.at(delta, ve, dep)
                if want_edges:
                    got = (np.full(ve.shape, s, dtype=ids.dtype), ids[ve], ids[we], dep)
                    for part, x in zip(parts, got):
                        part.append(x)
            if not want_edges and depth >= 2:
                sel = (dist >= 1) & (dist <= depth - 1)
                if sel.any():
                    got = (np.full(int(sel.sum()), s, dtype=ids.dtype), ids[sel], delta[sel])
                    for part, x in zip(parts, got):
                        part.append(x)
        if not parts[0]:
            return None
        return pd.DataFrame({c: np.concatenate(part) for c, part in zip(names, parts)})

    return _single_task_collapse(
        edges, lambda: edges.count() * len(src_list), _run, out_schema, args=_present
    )


def _brandes(
    graph: "Graph",
    sources: Sequence,
    max_iter: int,
    want_edges: bool,
) -> tuple[DataFrame | None, DataFrame | None]:
    """Shared Brandes passes. Returns (vertex_deltas, edge_terms):
    vertex_deltas = (s, v, delta) for interior levels >= 1;
    edge_terms = (s, v, w, dep) per shortest-path edge, only when
    ``want_edges`` (the vertex-only loop stops at level 1, keeping its
    round count — and pinned plan shape — unchanged)."""
    from functools import reduce

    src_list = [int(x) for x in sources]
    edges = (
        graph.edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Small-graph collapse (r14); the count materializes checkpoint
    # blocks the loop was about to scan anyway.
    acc = _brandes_collapse(graph, edges, src_list, max_iter, want_edges) if src_list else None
    if acc is not None:
        # Materialize eagerly: the loop path already runs its forward
        # pass at call time (per-round isEmpty actions), and its
        # still-expanding guard raises a driver-side RuntimeError —
        # preserve both behaviors by checkpointing the (work-gated,
        # small) result now and translating the worker-side guard back.
        try:
            acc = acc.localCheckpoint(eager=True)
        except Exception as exc:
            if "still expanding" in str(exc):
                raise RuntimeError(
                    f"betweenness BFS still expanding after max_iter={max_iter} "
                    "levels; raise max_iter above the landmark eccentricity"
                ) from exc
            raise
        return (None, acc) if want_edges else (acc, None)

    level0 = (
        graph.vertices.select("id")
        .filter(F.col("id").isin(src_list))
        .select(
            F.col("id").alias("s"),
            F.col("id").alias("v"),
            F.lit(0).alias("d"),
            F.lit(1.0).alias("sigma"),
        )
        .localCheckpoint(eager=False)
    )
    # r14: one checkpointed frame PER LEVEL instead of a re-checkpointed
    # running `visited` union — the old shape re-wrote every earlier
    # level's rows once per round (O(levels x visited) checkpoint bytes;
    # each level is already checkpointed, so the running union is pure
    # duplication), and the backward pass then re-filtered the full
    # union twice per level. The anti-join visibility set is the lazy
    # union of the per-level checkpoints (same bytes read, nothing
    # re-written), and the backward pass indexes levels[lvl] directly.
    levels: list[DataFrame] = [level0]

    def _seen() -> DataFrame:
        return reduce(DataFrame.union, [lv.select("s", "v") for lv in levels])

    frontier = level0
    depth = 0
    for _ in range(max_iter):
        nxt = (
            frontier.join(edges, frontier["v"] == edges["src"])
            .select("s", F.col("dst").alias("v"), "sigma")
            .groupBy("s", "v")
            .agg(F.sum("sigma").alias("sigma"))
            .join(_seen(), ["s", "v"], "left_anti")
            .withColumn("d", F.lit(depth + 1))
            .select("s", "v", "d", "sigma")
            .localCheckpoint(eager=False)
        )
        if nxt.isEmpty():
            break
        depth += 1
        levels.append(nxt)
        frontier = nxt
    else:
        # Truncating the BFS would not just omit far vertices — the
        # backward pass would seed delta=0 at the truncation frontier
        # and every returned delta would be numerically wrong. Refuse
        # loudly (the k_truss non-fixpoint policy) — but only if the
        # last frontier actually has unvisited successors: eccentricity
        # EXACTLY max_iter is a completed BFS, not a truncation (the
        # review found the bare frontier-non-empty test raised there).
        probe = (
            frontier.join(edges, frontier["v"] == edges["src"])
            .select("s", F.col("dst").alias("v"))
            .join(_seen(), ["s", "v"], "left_anti")
        )
        if not probe.isEmpty():
            raise RuntimeError(
                f"betweenness BFS still expanding after max_iter={max_iter} "
                "levels; raise max_iter above the landmark eccentricity"
            )

    # Backward pass: delta at the deepest level is 0 (no successors).
    level_delta = levels[depth].select("s", "v", F.lit(0.0).alias("delta"))
    v_acc = None
    e_acc = None
    for lvl in range(depth - 1, -1 if want_edges else 0, -1):
        cur = levels[lvl].select("s", "v", "sigma")
        succ = (
            levels[lvl + 1]
            .select("s", F.col("v").alias("w"), F.col("sigma").alias("sigma_w"))
            .join(level_delta.select("s", F.col("v").alias("w"), "delta"), ["s", "w"])
        )
        terms = (
            cur.join(edges, cur["v"] == edges["src"])
            .select("s", "v", "sigma", F.col("dst").alias("w"))
            .join(succ, ["s", "w"])
            .select(
                "s",
                "v",
                "w",
                (F.col("sigma") / F.col("sigma_w") * (F.lit(1.0) + F.col("delta"))).alias("dep"),
            )
        )
        if want_edges:
            # Each level's terms join feeds TWO consumers — the
            # per-vertex contrib aggregate (below, via the checkpointed
            # level_delta) and the final e_acc union — and a join
            # output has no exchange for AQE to reuse (the r14b
            # graph_hits lesson), so without this checkpoint every
            # backward join re-executes when e_acc is consumed.
            terms = terms.localCheckpoint(eager=False)
            e_acc = terms if e_acc is None else e_acc.union(terms)
        contrib = terms.groupBy("s", "v").agg(F.sum("dep").alias("delta"))
        level_delta = (
            cur.select("s", "v")
            .join(contrib, ["s", "v"], "left")
            .select("s", "v", F.coalesce("delta", F.lit(0.0)).alias("delta"))
            .localCheckpoint(eager=False)
        )
        if lvl >= 1:
            v_acc = level_delta if v_acc is None else v_acc.union(level_delta)
    return v_acc, e_acc


def _min_reach_labels(verts: DataFrame, edges: DataFrame, max_iter: int) -> DataFrame:
    """(id, label) where label = min vertex id that can REACH id along
    directed ``edges`` (including id itself) — min-label propagation
    src→dst to fixpoint, same one-job-per-round discipline as
    connected components (lazy checkpoint + monotone label-sum
    fixpoint). A pointer-jumping shortcut per round (label :=
    label(label), valid because reachability is transitive: if m
    reaches v and l reaches m then l reaches v) gives O(log diameter)
    convergence, same as the CC loop.

    Raises ``RuntimeError`` if ``max_iter`` rounds pass without
    reaching the fixpoint — a truncated propagation would silently
    split one reachability class across two labels (ADVICE r3).
    """
    labels = verts.withColumn("label", F.col("id")).localCheckpoint(eager=False)

    def _sum(df: DataFrame):
        return df.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    prev = _sum(labels)
    for _ in range(max_iter):
        incoming = (
            edges.join(labels, edges.src == labels.id)
            .select(F.col("dst").alias("id"), F.col("label"))
        )
        labels = (
            labels.select("id", "label")
            .union(incoming)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        parent = labels.select(F.col("id").alias("__pid"), F.col("label").alias("__plab"))
        labels = (
            labels.join(parent, labels.label == F.col("__pid"), "left")
            .select("id", F.coalesce("__plab", "label").alias("label"))
            .localCheckpoint(eager=False)
        )
        cur = _sum(labels)
        if cur == prev:
            return labels
        prev = cur
    raise RuntimeError(
        f"_min_reach_labels did not reach a fixpoint in {max_iter} rounds; "
        "raise max_iter (labels would be WRONG, not just incomplete, if truncated)"
    )


def strongly_connected_components(
    graph: "Graph", max_outer: int = 25, stats: dict | None = None
) -> DataFrame:
    """``(id, scc_id)`` with scc_id = min member id of each STRONGLY
    connected component (directed mutual reachability) — GraphFrames
    ``stronglyConnectedComponents`` with portable deterministic labels.

    FW-BW-Trim (McLendon et al.): each outer round first TRIMS —
    iteratively peels vertices with no in-edge or no out-edge within
    the remaining subgraph, which are necessarily singleton SCCs (a
    ≥2-vertex SCC needs both directions at every member); on
    transaction DAGs that's most of the graph, collapsing what would
    otherwise cost a full FW-BW round per DAG level. Then the FW-BW
    step: fwd(v) = min vertex reaching v and bwd(v) = min vertex
    reachable from v over the remaining subgraph; vertices with
    fwd(v) == bwd(v) == m are exactly SCC(m) for every such settled
    pivot m, so at least the SCC of the minimal remaining vertex
    settles per round — usually many at once. Settled vertices and
    their edges peel off and the loop repeats on the residual graph.

    Scale shape: trim is semi/anti-joins keyed on vertex id; FW-BW is
    two min-label propagation loops (forward + reversed edges) per
    outer round — each the same join+min-agg shuffle as connected
    components, with pointer jumping for O(log diameter) rounds —
    plus one anti-join peel; lineage checkpointed throughout.

    Raises ``RuntimeError`` if ``max_outer`` rounds leave vertices
    unsettled — previously they were silently absent from the output
    (ADVICE r3). ``stats`` (optional dict) receives ``outer_rounds``,
    ``trim_rounds``, ``trim_peeled`` for scale diagnostics (SCALE.md).
    """
    edges = (
        graph.edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    remaining = graph.vertices.select("id").distinct().localCheckpoint(eager=True)
    parts: list[DataFrame] = []
    outer_rounds = trim_rounds = trim_peeled = 0
    for _ in range(max_outer):
        # Trim: peel trivial SCCs until none remain, re-restricting the
        # edge set as peels expose new source/sink vertices.
        while True:
            e_r = (
                edges.join(remaining.select(F.col("id").alias("src")), "src", "left_semi")
                .join(remaining.select(F.col("id").alias("dst")), "dst", "left_semi")
                .select("src", "dst")
                .localCheckpoint(eager=False)
            )
            nontrivial = (
                remaining.join(
                    e_r.select(F.col("src").alias("id")).distinct(), "id", "left_semi"
                )
                .join(e_r.select(F.col("dst").alias("id")).distinct(), "id", "left_semi")
                .localCheckpoint(eager=True)
            )
            trivial = remaining.join(nontrivial, "id", "left_anti").localCheckpoint(eager=True)
            n_triv = trivial.count()
            if n_triv == 0:
                break
            trim_rounds += 1
            trim_peeled += n_triv
            parts.append(trivial.select("id", F.col("id").alias("scc_id")))
            remaining = nontrivial
        if remaining.limit(1).count() == 0:
            break
        outer_rounds += 1
        e_b = e_r.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        fwd = _min_reach_labels(remaining, e_r, max_iter=100)
        bwd = _min_reach_labels(remaining, e_b, max_iter=100)
        settled = (
            fwd.join(bwd.withColumnRenamed("label", "__b"), "id")
            .filter(F.col("label") == F.col("__b"))
            .select("id", F.col("label").alias("scc_id"))
            .localCheckpoint(eager=True)
        )
        parts.append(settled)
        remaining = remaining.join(settled.select("id"), "id", "left_anti").localCheckpoint(
            eager=True
        )
    else:
        if remaining.limit(1).count() != 0:
            raise RuntimeError(
                f"strongly_connected_components left vertices unsettled after "
                f"{max_outer} outer rounds; raise max_outer (silently dropping "
                "them would return an incomplete result)"
            )
    if stats is not None:
        stats.update(
            outer_rounds=outer_rounds, trim_rounds=trim_rounds, trim_peeled=trim_peeled
        )
    if not parts:
        return graph.vertices.select("id", F.col("id").alias("scc_id")).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def label_propagation(graph: "Graph", max_iter: int = 3) -> DataFrame:
    """Synchronous label propagation (community detection;
    GraphFrames ``labelPropagation``) with DETERMINISTIC tie-breaks:
    ``(id, label)`` after exactly ``max_iter`` rounds.

    Every vertex starts labeled with its own id; each round it adopts
    the most frequent label among its (undirected) neighbors, ties
    broken by the smaller label; isolated vertices keep their label.
    Fixed iteration count + min tie-break make the output a pure
    function of the edge set — replayable as unrolled SQL rounds
    (GraphFrames breaks ties by hash, which no oracle can follow).

    Each round = one neighbor-label equi-join, one (vertex, label)
    count aggregation, one per-vertex window rank — all keyed on
    vertex id; ``localCheckpoint`` per round truncates lineage.
    """
    und = _canonical_undirected(graph.edges)
    nbrs = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b"))).select(
        F.col("a").alias("id"), F.col("b").alias("nbr")
    )
    labels = graph.vertices.select("id").withColumn("label", F.col("id"))
    labels = labels.localCheckpoint(eager=False)
    w = Window.partitionBy("id").orderBy(F.col("c").desc(), F.col("label"))
    for _ in range(max_iter):
        nbr_labels = nbrs.join(
            labels.select(F.col("id").alias("nbr"), "label"), "nbr"
        ).select("id", "label")
        winner = (
            nbr_labels.groupBy("id", "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select("id", F.col("label").alias("__new"))
        )
        labels = (
            labels.join(winner, "id", "left")
            .select("id", F.coalesce("__new", "label").alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels


def k_core(graph: "Graph", k: int, max_iter: int = 50, stats: dict | None = None) -> DataFrame:
    """The k-core: the maximal subgraph where every vertex has
    undirected degree >= ``k`` (Seidman 1983) — the standard dense-
    subnetwork reduction for AML (a mule ring's members each transact
    with several other members, so rings survive the peel while the
    long tail of one-off counterparties erodes away). Complements the
    reference's motif queries (01_aml_network_analysis.py:296-322):
    motifs find exact shapes, the core finds density without a shape.

    Output: ``(id, core_degree)`` for core members, core_degree = the
    vertex's degree WITHIN the core. Direction/multiplicity collapse
    first (:func:`_canonical_undirected`); vertices outside the core
    (including isolated ones) are absent.

    Iterative peel: drop all vertices with degree < k, recompute,
    repeat to fixpoint — converges in few rounds because each round
    removes every currently-underweight vertex at once. Each round is
    one groupBy(count) + two semi-joins, all keyed on vertex ids;
    ``localCheckpoint`` truncates loop lineage (SURVEY §4 O5). The
    edge count is monotonically non-increasing, so the count action
    that materializes each round's checkpoint doubles as the fixpoint
    test — no extra job.

    ``stats`` receives ``rounds``. Raises if ``max_iter`` rounds don't
    reach the fixpoint (never returns a half-peeled subgraph —
    ADVICE r3's completeness discipline for iterative ops).
    """
    und = _canonical_undirected(graph.edges)
    # both directions: degree = count of incident undirected edges
    bi = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    bi = bi.localCheckpoint(eager=False)
    prev_edges = bi.count()
    rounds = 0
    for _ in range(max_iter):
        alive = bi.groupBy("a").count().filter(F.col("count") >= k).select("a")
        bi = (
            bi.join(alive, "a", "semi")
            .join(alive.select(F.col("a").alias("b")), "b", "semi")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        n_edges = bi.count()
        rounds += 1
        if n_edges == prev_edges:
            break
        prev_edges = n_edges
    else:
        raise RuntimeError(f"k_core: no fixpoint after {max_iter} rounds")
    if stats is not None:
        stats.update(rounds=rounds)
    return bi.groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("core_degree"))


def bfs(
    graph: "Graph",
    from_expr,
    to_expr,
    max_path_length: int = 10,
    edge_filter=None,
) -> DataFrame:
    """Breadth-first search: the shortest path(s) from any vertex
    matching ``from_expr`` to any vertex matching ``to_expr``
    (graphframes.GraphFrame.bfs — the last piece of the reference's
    GraphFrames surface, 01_aml_network_analysis.py:78).

    GraphFrames semantics throughout: the search stops at the FIRST
    level where any path reaches a ``to`` vertex (a GLOBAL minimum —
    farther from-vertices get no paths); all paths of that length come
    back, one row per path, columns ``from, e0, v1, e1, …, to``
    (vertex/edge structs); a vertex matching both expressions yields
    the level-0 frame ``(from, to)``; no path within
    ``max_path_length`` yields an empty ``(from, to)`` frame. Paths
    never revisit a vertex (tracked with a bounded ``__visited``
    array — length <= max_path_length, a constant, not data-sized).

    Each level is one edge join + one vertex join keyed on ids, with
    ``localCheckpoint`` cutting loop lineage; the level's hit test is
    a semi-join against the (lazily checkpointed) ``to``-vertex ids.
    Path MATERIALIZATION is inherently exponential in dense graphs —
    at 100 TB use :func:`shortest_paths` (distances only, linear
    state) unless the paths themselves are the product.
    """
    v, e = graph.vertices, graph.edges
    vstruct = F.struct(*[F.col(c) for c in v.columns])
    from_v = v.filter(from_expr)
    to_ids = v.filter(to_expr).select("id").localCheckpoint(eager=False)

    zero = from_v.join(to_ids, "id", "semi")
    if not zero.isEmpty():
        return zero.select(vstruct.alias("from"), vstruct.alias("to"))

    edges = e.filter(edge_filter) if edge_filter is not None else e
    edges = edges.select(
        F.col("src").alias("__esrc"),
        F.col("dst").alias("__edst"),
        F.struct(*[F.col(c) for c in e.columns]).alias("__e"),
    )
    vsel = v.select(F.col("id").alias("__vid"), vstruct.alias("__v"))
    paths = from_v.select(
        vstruct.alias("from"),
        F.col("id").alias("__head"),
        F.array(F.col("id")).alias("__visited"),
    )
    for lvl in range(1, max_path_length + 1):
        step = (
            paths.join(edges, F.col("__head") == F.col("__esrc"))
            .join(vsel, F.col("__edst") == F.col("__vid"))
            .filter(~F.array_contains(F.col("__visited"), F.col("__edst")))
        )
        keep = [c for c in paths.columns if c not in ("__head", "__visited")]
        paths = step.select(
            *keep,
            F.col("__e").alias(f"e{lvl - 1}"),
            F.col("__v").alias(f"v{lvl}"),
            F.col("__edst").alias("__head"),
            F.concat(F.col("__visited"), F.array(F.col("__edst"))).alias("__visited"),
        ).localCheckpoint(eager=False)
        hits = paths.join(to_ids, paths["__head"] == to_ids["id"], "semi")
        if not hits.isEmpty():
            inner = [c for c in hits.columns if c not in ("__head", "__visited")]
            return hits.select(*inner[:-1], F.col(f"v{lvl}").alias("to"))
    return from_v.select(vstruct.alias("from"), vstruct.alias("to")).limit(0)


def random_walks(
    graph: "Graph",
    walk_length: int = 3,
    num_walks: int = 2,
    salt: str = "walk-v1",
) -> DataFrame:
    """Deterministic uniform random walks (the sampling pass under
    DeepWalk/node2vec embeddings): ``num_walks`` walks per vertex,
    each ``walk_length`` steps, where step t of walk (v, w) moves to
    neighbor index md5-uint32(salt‖v‖'#'‖w‖'#'‖t) mod out-degree — a
    pure function of the walk coordinates, so re-running a sampling
    job (or replaying it in another engine) regenerates identical
    walks; RNG walks can't be cached, resumed, or oracle-checked.

    Output long-form: (start, walk_no, step, node), step 0 = start.
    Dead ends absorb (the walk stays on the sink vertex) — the
    standard truncated-walk convention, and SQL-replayable.

    Scale shape: the adjacency gets per-source dense neighbor indexes
    (one window keyed on src — partitioned by vertex, never global);
    each step is one equi-join of the walk frontier against (src, idx)
    plus a degree lookup, both keyed on the current node. State is one
    row per active walk; nothing grows with step count except the
    output rows themselves.
    """
    edges = graph.edges.select("src", "dst").distinct()
    adj = edges.withColumn(
        "idx", F.row_number().over(Window.partitionBy("src").orderBy("dst")) - 1
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    walks = graph.vertices.select(F.col("id").alias("start")).select(
        "start",
        F.explode(F.array(*[F.lit(i) for i in range(num_walks)])).alias("walk_no"),
    )
    cur = walks.withColumn("node", F.col("start"))
    out = cur.withColumn("step", F.lit(0))
    for t in range(1, walk_length + 1):
        draw = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt),
                        F.col("start").cast("string"),
                        F.lit("#"),
                        F.col("walk_no").cast("string"),
                        F.lit("#"),
                        F.lit(str(t)),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        stepped = (
            cur.join(deg, cur.node == deg.src, "left")
            .withColumn("idx", F.pmod(draw, F.col("deg")))
            .drop("src")
            .join(
                adj.select(
                    F.col("src").alias("__asrc"), F.col("idx").alias("__aidx"),
                    F.col("dst").alias("__next"),
                ),
                (F.col("node") == F.col("__asrc")) & (F.col("idx") == F.col("__aidx")),
                "left",
            )
            .select(
                "start", "walk_no", F.coalesce("__next", "node").alias("node")
            )
        )
        cur = stepped
        out = out.unionByName(stepped.withColumn("step", F.lit(t)))
    return out


def k_truss(
    graph: "Graph", k: int, max_iter: int = 30, stats: dict | None = None
) -> DataFrame:
    """Edges of the k-truss: the maximal subgraph where every edge is
    supported by >= k-2 triangles whose other edges are also in the
    truss (Cohen 2008) — the edge-density analogue of the k-core's
    vertex peel, and the sharper mule-ring detector: a ring's edges sit
    in many triangles with other ring members, while a hub-and-spoke
    star (which SURVIVES a k-core peel once the hub degree is high)
    has zero triangles and erodes immediately.

    Output: ``(a, b, support)`` for truss edges (canonical a < b),
    support = triangle count within the truss.

    Iterative peel, all keyed shuffles: per round, enumerate each
    triangle exactly once as a < b < c — wedge join (a,b)x(b,c) on the
    shared middle vertex, closed by a LEFT-SEMI probe of (a,c) — then
    count per edge via the three projections and drop edges under
    k-2. Edge count is monotone non-increasing, so the checkpoint-
    materializing count doubles as the fixpoint test (same discipline
    as :func:`k_core`). Raises after ``max_iter`` rounds without a
    fixpoint rather than returning a half-peeled truss.

    Triangle enumeration is DEGREE-ORDERED (the compact-forward /
    Latapy orientation): each undirected edge is directed from its
    lower-(degree, id) endpoint to the higher, wedges form only at a
    triangle's minimum vertex under that order, and the closing edge
    is probed in its own orientation. Naive id-ordered wedging fans
    out d(v)^2 at every hub — a 10^7-degree mule hub yields 10^14
    wedge rows from one vertex; the degree orientation bounds
    out-degree by O(sqrt(|E|)) so total wedges are
    O(|E|^1.5 / arboricity-adjusted), the textbook bound, with no
    change to the output contract. The orientation degree is
    recomputed per peel round from the surviving edges.
    """
    if k < 3:
        raise ValueError("k-truss requires k >= 3 (k-2 >= 1 triangle per edge)")
    e = _canonical_undirected(graph.edges).localCheckpoint(eager=False)
    prev_edges = e.count()
    rounds = 0

    def _support(edges: DataFrame) -> DataFrame:
        # undirected degree per vertex of the CURRENT edge set
        bi = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        deg = bi.groupBy("a").agg(F.count(F.lit(1)).alias("d")).select(
            F.col("a").alias("v"), "d"
        )
        withd = edges.join(
            deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a"
        ).join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
        a_first = (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
        )
        # orient low-(deg,id) -> high; carry the head's rank for wedge
        # ordering at the shared tail
        o = withd.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("s"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("t"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dt"),
        ).localCheckpoint(eager=False)
        o1 = o.select("s", F.col("t").alias("x"), F.col("dt").alias("dx"))
        o2 = o.select("s", F.col("t").alias("y"), F.col("dt").alias("dy"))
        wedge = o1.join(o2, "s").filter(
            (F.col("dx") < F.col("dy"))
            | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
        )
        # the closing edge x-y is oriented x->y: x precedes y in the
        # same (deg, id) order the wedge filter just applied
        tri = wedge.join(
            o.select(F.col("s").alias("x"), F.col("t").alias("y")), ["x", "y"], "semi"
        ).select("s", "x", "y")
        # back to canonical-by-id edge identities for the peel
        def _canon(u: str, v: str):
            return [F.least(F.col(u), F.col(v)).alias("a"),
                    F.greatest(F.col(u), F.col(v)).alias("b")]

        sides = (
            tri.select(*_canon("s", "x"))
            .unionAll(tri.select(*_canon("s", "y")))
            .unionAll(tri.select(*_canon("x", "y")))
        )
        return sides.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))

    for _ in range(max_iter):
        sup = _support(e).localCheckpoint(eager=False)
        e = (
            e.join(sup.filter(F.col("support") >= k - 2), ["a", "b"], "semi")
            .localCheckpoint(eager=False)
        )
        n_edges = e.count()
        rounds += 1
        if n_edges == prev_edges:
            break
        prev_edges = n_edges
    else:
        raise RuntimeError(f"k_truss: no fixpoint after {max_iter} rounds")
    if stats is not None:
        stats.update(rounds=rounds)
    # the confirming round removed nothing, so the last sup was computed
    # on exactly this edge set — reuse it instead of re-running the
    # triangle enumeration (the dominant stage) one more time
    return e.join(sup, ["a", "b"]).select("a", "b", "support")


def modularity(graph: "Graph", labels: DataFrame, label_col: str = "label") -> DataFrame:
    """Newman modularity of a vertex partition over the canonical
    undirected simple graph: per community c,
    ``q_contrib = e_c/m - (d_c/(2m))^2`` (internal-edge share minus
    the share a degree-preserving random rewiring would expect);
    summing q_contrib gives Q in [-1/2, 1). The standard quality gauge
    for ANY community assignment (LPA, components, external labels) —
    GraphFrames never exposed it, so users eyeball communities instead
    of scoring them.

    Plan: two vocabulary-of-vertices joins label the edge endpoints,
    then everything is per-community aggregation; the corpus-scale
    totals (m) ride as a broadcast 1-row cross join — no collect, no
    iteration. Communities with zero internal edges keep a row
    (left join, coalesce 0)."""
    und = _canonical_undirected(graph.edges)
    la = labels.select(F.col("id").alias("a"), F.col(label_col).alias("__ca"))
    lb = labels.select(F.col("id").alias("b"), F.col(label_col).alias("__cb"))
    labeled = und.join(la, "a").join(lb, "b")
    e_in = (
        labeled.filter(F.col("__ca") == F.col("__cb"))
        .groupBy(F.col("__ca").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_internal"))
    )
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    per_comm = (
        labels.join(deg, "id", "left")
        .groupBy(F.col(label_col).alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum(F.coalesce("__deg", F.lit(0))).cast("long").alias("d_total"),
        )
    )
    # NOTE (r14 negative result): deriving m from a checkpointed degree
    # table (handshake identity sum(deg) = 2m, und consumers 3 -> 2)
    # measured SLOWER at sf0.1 (1.983 -> 2.081 s warm median) — und's
    # distinct sits below an exchange, so runtime exchange reuse
    # already covers the duplicate subtree, and the extra checkpoint
    # materialization job costs a scheduling floor. Kept as-is.
    m_tot = und.agg(F.count(F.lit(1)).cast("double").alias("__m"))
    return (
        per_comm.join(e_in, "community", "left")
        .crossJoin(F.broadcast(m_tot))
        .select(
            "community",
            "n_nodes",
            F.coalesce("e_internal", F.lit(0)).alias("e_internal"),
            "d_total",
            (
                F.coalesce("e_internal", F.lit(0)) / F.col("__m")
                - (F.col("d_total") / (2.0 * F.col("__m"))) ** 2
            ).alias("q_contrib"),
        )
    )


def hits(graph: "Graph", max_iter: int = 2) -> DataFrame:
    """Kleinberg's HITS (hubs and authorities): ``(id, hub,
    authority)`` after exactly ``max_iter`` full iterations. Each
    iteration is the pair of mutually-recursive half-steps, each
    followed by an L2 normalization::

        authority := A^T hub;  authority /= ||authority||_2
        hub       := A authority;  hub /= ||hub||_2

    starting from hub = 1. Authorities are where the hubs point
    (fan-in mule accounts); hubs are what points at good authorities
    (fan-out originators) — the directional refinement of plain
    degree the AML structuring motifs approximate.

    Scale shape per half-step: one edge⋈state equi-join + one keyed
    sum (both map-side combined), then a scalar L2 norm broadcast
    back via crossJoin — the Pregel send/receive cadence with a
    global-agg barrier, all JVM codegen. Fixed iteration count and
    left-join-to-all-vertices (missing side = 0) keep the output a
    pure function of the edge set, replayable as unrolled SQL rounds.
    An empty side normalizes to 0 via try_divide (norm 0 => NULL =>
    coalesce 0), never a divide error."""
    if max_iter < 1:
        raise ValueError(f"hits: max_iter must be >= 1, got {max_iter}")
    edges = graph.edges.select("src", "dst").localCheckpoint(eager=False)
    ids = graph.vertices.select("id")
    state = ids.withColumn("hub", F.lit(1.0))

    def _half(frm: DataFrame, col: str, join_on: str, out_key: str, out_col: str) -> DataFrame:
        summed = (
            edges.join(frm.select(F.col("id").alias(join_on), col), join_on)
            .groupBy(F.col(out_key).alias("id"))
            .agg(F.sum(col).alias(out_col))
        )
        full = (
            ids.join(summed, "id", "left")
            .select("id", F.coalesce(out_col, F.lit(0.0)).alias(out_col))
            # the zero-filled half-step state feeds TWO consumers (the
            # L2-norm agg and the normalized output) — without a
            # checkpoint the edge⋈state join above executes twice per
            # half-step (r14, guide §2.4: Spark reuses identical
            # exchanges, not duplicate static subtrees). Vertex-scale,
            # the same scale the per-iteration state checkpoint holds.
            .localCheckpoint(eager=False)
        )
        norm = full.agg(F.sqrt(F.sum(F.col(out_col) ** 2)).alias("__n"))
        return full.crossJoin(F.broadcast(norm)).select(
            "id",
            F.coalesce(F.try_divide(F.col(out_col), F.col("__n")), F.lit(0.0)).alias(out_col),
        )

    for _ in range(max_iter):
        auth = _half(state, "hub", "src", "dst", "authority")
        state = _half(auth, "authority", "dst", "src", "hub").localCheckpoint(eager=False)
    return state.join(auth, "id").select("id", "hub", "authority")


def weighted_sssp(
    graph: "Graph",
    sources: Sequence,
    weight_col: str = "amount",
    max_iter: int = 4,
) -> DataFrame:
    """Min-cost distance from each ``sources`` vertex along directed
    weighted edges, restricted to paths of at most ``max_iter`` hops
    (Bellman-Ford relaxation, exactly ``max_iter`` rounds): ``(id,
    source, dist)``; pairs unreachable within the hop budget are
    absent. The weighted twin of :func:`shortest_paths` — "cheapest
    transfer path from a flagged account" instead of hop count.

    Each round is one distances⋈edges equi-join + a min-groupBy (both
    map-side combined) + localCheckpoint — the Pregel cadence. The
    FIXED round count (rather than a convergence test) keeps the
    output replayable as unrolled SQL rounds, and bounds the work on
    negative-weight-free graphs the same way the BFS variant's
    max_iter does; distances are exact double sums folded in round
    order, identical on any engine."""
    if max_iter < 1:
        raise ValueError(f"weighted_sssp: max_iter must be >= 1, got {max_iter}")
    src_list = [int(x) for x in sources]
    edges = (
        graph.edges.select("src", "dst", F.col(weight_col).alias("__w"))
        .localCheckpoint(eager=False)
    )
    dist = graph.vertices.select("id").filter(F.col("id").isin(src_list)).select(
        "id", F.col("id").alias("source"), F.lit(0.0).alias("dist")
    )
    for _ in range(max_iter):
        relax = (
            dist.join(edges, dist["id"] == edges["src"])
            .select(
                F.col("dst").alias("id"),
                "source",
                (F.col("dist") + F.col("__w")).alias("dist"),
            )
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("id", "source")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist


def _densest_peel_collapse(
    und: DataFrame, verts: DataFrame, eps: float, max_rounds: int
) -> list[tuple] | None:
    """Exact peel trajectory of a SMALL graph in one task (work
    measure: |E| + |V| rows): edge and vertex rows funnel into the
    single task tagged apart by a boolean column (no NULL ids — a
    nullable int column would arrive as float64 and lose precision
    past 2^53), and the peel runs as vectorized membership masks.
    Arithmetic is IDENTICAL to the distributed loop: integer
    |V|/|E|/degree counts, rho = the same python float division, the
    same deg > 2(1+eps)rho double comparison — so the trajectory is
    bit-equal, not merely close (pinned by
    tests/test_graph.py::test_densest_peel_matches_python_simulation,
    which both paths must satisfy exactly). None when the gate
    refuses."""
    tagged = und.select("a", "b", F.lit(False).alias("__isv")).unionByName(
        verts.select(
            F.col("id").alias("a"), F.col("id").alias("b"), F.lit(True).alias("__isv")
        )
    )
    out_schema = T.StructType(
        [
            T.StructField("round", T.IntegerType()),
            T.StructField("n_vertices", T.LongType()),
            T.StructField("n_edges", T.LongType()),
            T.StructField("rho", T.DoubleType()),
        ]
    )

    def _run(A, B, isv):
        import numpy as np
        import pandas as pd

        vert_ids = np.unique(A[isv])
        ea_raw, eb_raw = A[~isv], B[~isv]
        ids = np.unique(np.concatenate([vert_ids, ea_raw, eb_raw]))
        # the loop seeds from graph.vertices only; a contract-violating
        # dangling endpoint never enters s, so its edges never survive
        # the per-round semi-joins — replicated by the initial mask
        active = np.isin(ids, vert_ids)
        ea = np.searchsorted(ids, ea_raw)
        eb = np.searchsorted(ids, eb_raw)
        rows = []
        for i in range(max_rounds):
            n_v = int(active.sum())
            if n_v == 0:
                break
            em = active[ea] & active[eb]
            n_e = int(em.sum())
            rho = n_e / n_v
            rows.append((i, n_v, n_e, rho))
            deg = np.zeros(len(ids), dtype=np.int64)
            np.add.at(deg, ea[em], 1)
            np.add.at(deg, eb[em], 1)
            active = active & (deg > 2.0 * (1.0 + eps) * rho)
        if not rows:
            return None
        return pd.DataFrame(rows, columns=["round", "n_vertices", "n_edges", "rho"]).astype(
            {"round": np.int32, "n_vertices": np.int64, "n_edges": np.int64}
        )

    got = _single_task_collapse(
        tagged, lambda: und.count() + verts.count(), _run, out_schema
    )
    if got is None:
        return None
    return sorted(
        (int(r.round), int(r.n_vertices), int(r.n_edges), float(r.rho))
        for r in got.collect()
    )


def densest_subgraph_peel(
    graph: "Graph",
    eps: float = 0.5,
    max_rounds: int = 6,
) -> list[tuple]:
    """Parallel densest-subgraph peel (Bahmani-Kumar-Vassilvitskii,
    VLDB 2012): repeatedly delete every vertex whose degree is at most
    ``2(1+eps)`` times the current subgraph's average density rho =
    |E|/|V|; some intermediate subgraph is a ``2(1+eps)``-approximation
    of the densest, and the peel needs only O(log n / eps) rounds —
    the distributed replacement for Charikar's inherently sequential
    one-vertex-per-step greedy.

    Returns the peel TRAJECTORY as driver-side rows ``(round,
    n_vertices, n_edges, rho)`` for every non-empty round (at most
    ``max_rounds``) — per-round |V|/|E| are the only driver actions
    (two scalars per round, the CC-fixpoint collect discipline); all
    per-vertex work (degree computation, threshold filter) is
    distributed joins/aggregations over the undirected simple graph.
    The best round (max rho, earliest on ties) is the approximation's
    witness; callers re-derive its vertex set by re-running the peel
    or capturing ``subgraphs`` via the optional out-param.

    Small graphs collapse (r14, the small-graph-collapse pattern): when
    the counted undirected edge table plus the vertex table fits
    ``SMALL_GRAPH_COLLAPSE_ROWS``, the whole trajectory is computed in
    ONE single-task vectorized pass (:func:`_densest_peel_collapse`)
    instead of ~3 jobs x rounds of scheduling floor; integer counts
    and the same python-float rho make the trajectory bit-equal to the
    loop's. The function is eager either way (it returns driver-side
    rows)."""
    if not 0.0 < eps:
        raise ValueError(f"densest_subgraph_peel: eps must be > 0, got {eps}")
    und = _canonical_undirected(graph.edges).localCheckpoint(eager=False)
    s = graph.vertices.select("id").localCheckpoint(eager=False)
    collapsed = _densest_peel_collapse(und, s, eps, max_rounds)
    if collapsed is not None:
        return collapsed
    rows: list[tuple] = []
    for i in range(max_rounds):
        e = (
            und.join(s.select(F.col("id").alias("a")), "a", "left_semi")
            .join(s.select(F.col("id").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=False)
        )
        n_v = s.count()
        if n_v == 0:
            break
        n_e = e.count()
        rho = n_e / n_v
        rows.append((i, n_v, n_e, rho))
        deg = (
            e.select(F.explode(F.array("a", "b")).alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("__d"))
        )
        s = (
            s.join(deg, "id", "left")
            .filter(F.coalesce(F.col("__d"), F.lit(0)) > 2.0 * (1.0 + eps) * rho)
            .drop("__d")
            .localCheckpoint(eager=False)
        )
    return rows


def temporal_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    persist_levels: bool = False,
    aggregate: bool = True,
) -> DataFrame:
    """Time-respecting bounded-hop reachability (follow-the-money):
    every node reachable from a seed through a chain of edges in which
    each hop's timestamp is STRICTLY after the arrival that funded it.
    ``edges`` must carry ``src``, ``dst`` and an integer event-time
    column ``us``; ``seeds`` carries ``seed``. Returns one row per
    (seed, node) with ``min_hops`` (fewest hops over time-respecting
    paths) and ``first_us`` (earliest possible arrival within
    ``max_hops`` hops).

    Each hop level k is pruned to the EARLIEST arrival over
    exactly-k-hop paths — admissible because within a fixed hop count
    the minimal-arrival path dominates (any edge usable after some
    exactly-k-hop arrival is also usable after the minimal one, and
    extending the minimizer is itself a valid exactly-(k+1)-hop path).
    Pruning across DIFFERENT hop counts would be wrong (a later 1-hop
    arrival and an earlier 2-hop arrival both matter), which is why
    levels stay exact-k. Frontiers therefore hold one row per
    (seed, node) — never per-path blowup.

    ``persist_levels``: see the measured crossover in
    plans/graph_queries.funds_tracing_alerts (recompute wins at small
    scale via fused scheduling; persist wins past ~1M edges).

    ``aggregate=False`` returns the raw exact-hop levels
    (seed, node, hop, us) — one row per (seed, node, hop) with the
    earliest arrival over exactly-``hop``-hop paths — for consumers
    that need per-hop structure (e.g. round-trip detection must see a
    hop-2 return even when a hop-1 self-edge exists, which the
    min_hops aggregate would mask)."""
    if max_hops < 1:
        raise ValueError(f"temporal_reachability: max_hops must be >= 1, got {max_hops}")
    levels = []
    frontier = (
        edges.join(seeds, edges.src == seeds.seed)
        .groupBy("seed", F.col("dst").alias("node"))
        .agg(F.min("us").alias("us"))
    )
    if persist_levels and max_hops > 1:
        # the final level has a single consumer — caching it would be
        # pure overhead, so every persist is guarded by "more levels
        # will re-read this frontier"
        frontier = frontier.persist()
    levels.append(frontier.select("seed", "node", F.lit(1).alias("hop"), "us"))
    for hop in range(2, max_hops + 1):
        # fresh column names per level: the frontier's lineage includes
        # the edge frame, so the self-join must disambiguate explicitly
        fr = frontier.select(
            F.col("seed").alias("f_seed"),
            F.col("node").alias("f_node"),
            F.col("us").alias("f_us"),
        )
        ek = edges.select(
            F.col("src").alias("e_src"),
            F.col("dst").alias("e_dst"),
            F.col("us").alias("e_us"),
        )
        frontier = (
            fr.join(
                ek,
                (F.col("e_src") == F.col("f_node")) & (F.col("e_us") > F.col("f_us")),
            )
            .groupBy(F.col("f_seed").alias("seed"), F.col("e_dst").alias("node"))
            .agg(F.min("e_us").alias("us"))
        )
        if persist_levels and hop < max_hops:
            frontier = frontier.persist()
        levels.append(frontier.select("seed", "node", F.lit(hop).alias("hop"), "us"))
    u = levels[0]
    for lv in levels[1:]:
        u = u.unionByName(lv)
    if not aggregate:
        return u
    return u.groupBy("seed", "node").agg(
        F.min("hop").alias("min_hops"),
        F.min("us").cast("long").alias("first_us"),
    )
