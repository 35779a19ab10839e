"""Graph analytics over DataFrame pairs (SURVEY.md §2.8).

The reference delegates to GraphFrames (01_aml_network_analysis.py:78,
:109, :292, :441); this module provides the same surface as pure
PySpark algorithmic drivers: a ``Graph`` of two DataFrames, degrees,
degree pruning, iterative connected components, a motif-pattern
compiler, and a Pregel loop. No JVM extensions — every step is a
Catalyst-optimized DataFrame plan; iteration lineage is cut with
localCheckpoint (SURVEY §4 O5).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anti_money_laundering_spark.graph.algorithms import (
    temporal_reachability,
    betweenness,
    bfs,
    densest_subgraph_peel,
    edge_betweenness,
    hits,
    label_propagation,
    modularity,
    shortest_paths,
    strongly_connected_components,
    triangle_count,
    weighted_sssp,
)
from anti_money_laundering_spark.graph.components import (
    bipartite_components,
    connected_components,
)
from anti_money_laundering_spark.graph.motif import find_motif
from anti_money_laundering_spark.graph.pregel import pagerank, pregel, risk_propagation


@dataclass
class Graph:
    """A property graph: ``vertices`` must carry ``id``; ``edges`` must
    carry ``src`` and ``dst`` (GraphFrames' own convention,
    01_aml_network_analysis.py:109)."""

    vertices: DataFrame
    edges: DataFrame

    def __post_init__(self) -> None:
        if "id" not in self.vertices.columns:
            raise ValueError("vertices DataFrame requires an 'id' column")
        missing = {"src", "dst"} - set(self.edges.columns)
        if missing:
            raise ValueError(f"edges DataFrame missing columns: {sorted(missing)}")

    def validate(self) -> "Graph":
        """Opt-in DEBUG guard (r14; two aggregation jobs — never run it
        in a hot path by default): assert the data-level Graph contract
        that the structural ``__post_init__`` check cannot see —
        (a) vertex ids are unique, (b) endpoint closure: every edge
        src/dst appears in ``vertices``. The CC frontier fold and the
        motif id-only fast path assume both; on violating inputs they
        return wrong results (a dangling endpoint gets no label row and
        cannot relay; a duplicate vertex id emits duplicate label rows),
        where the union+groupBy folds they replaced happened to
        tolerate them — this makes such inputs fail loudly instead.
        Raises ``ValueError`` naming the first offending id."""
        dup = (
            self.vertices.groupBy("id")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"Graph contract violation: duplicate vertex id {dup[0]['id']!r}"
            )
        dangling = (
            self.edges.select(F.explode(F.array("src", "dst")).alias("id"))
            .join(self.vertices.select("id"), "id", "left_anti")
            .limit(1)
            .collect()
        )
        if dangling:
            raise ValueError(
                "Graph contract violation: edge endpoint "
                f"{dangling[0]['id']!r} is not in vertices (endpoint closure)"
            )
        return self

    # -- G2: per-vertex degree (in+out), 01_aml_network_analysis.py:123
    def degrees(self) -> DataFrame:
        """Vertex degree = in + out. One explode + one partial-agg'd
        groupBy; no join against the vertex table needed."""
        return (
            self.edges.select(F.explode(F.array("src", "dst")).alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    def in_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("in_degree"))

    def out_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("out_degree"))

    # -- G3/O4: degree-1 pruning pre-pass (01_aml_network_analysis.py:119-127)
    def prune_degree_one(self, keep: F.Column | None = None) -> "Graph":
        """Drop degree-1 vertices (optionally except those matching
        ``keep``) before running connected components — the reference's
        graph-size reduction: a degree-1 attribute vertex can't merge
        two components. Edges touching dropped vertices are removed.
        """
        deg = self.degrees()
        cond = F.col("degree") != 1
        if keep is not None:
            cond = cond | keep
        kept = self.vertices.join(deg, "id", "left").filter(F.coalesce(cond, F.lit(False))).drop("degree")
        kept_ids = kept.select("id")
        edges = (
            self.edges.join(kept_ids.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(kept_ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
        )
        return Graph(kept, edges)

    def connected_components(
        self, max_iter: int = 100, stats: dict | None = None, **kwargs
    ) -> DataFrame:
        return connected_components(self, max_iter=max_iter, stats=stats, **kwargs)

    def find(
        self,
        pattern: str,
        max_vertex_degree: int | None = None,
        cache_hub_ids: bool = True,
    ) -> DataFrame:
        return find_motif(
            self,
            pattern,
            max_vertex_degree=max_vertex_degree,
            cache_hub_ids=cache_hub_ids,
        )

    def bfs(self, from_expr, to_expr, max_path_length: int = 10, edge_filter=None) -> DataFrame:
        return bfs(self, from_expr, to_expr, max_path_length=max_path_length, edge_filter=edge_filter)

    # -- GraphFrames aggregateMessages parity: the one-shot message
    # primitive Pregel supersteps are built from.
    def aggregate_messages(
        self,
        agg: F.Column,
        to_dst: F.Column | None = None,
        to_src: F.Column | None = None,
        uses_src: bool | None = None,
        uses_dst: bool | None = None,
    ) -> DataFrame:
        """One round of message passing: for each edge, send ``to_dst``
        to the destination vertex and/or ``to_src`` to the source, then
        aggregate all messages per receiving vertex with ``agg`` (an
        aggregate over the ``msg`` column). Message expressions
        reference ``edge``/``src``/``dst`` structs — e.g.
        ``F.col("edge.amount")``, ``F.col("src.risk")`` (GraphFrames
        AggregateMessages convention).

        Plan shape: the ``src``/``dst`` vertex-attribute join happens
        ONLY when a message expression actually references that struct
        — edge-only messages (e.g. net flow sending ±``edge.amount``)
        plan with ZERO vertex joins, so the whole round is one
        partial+final aggregation keyed on vertex id. Struct usage is
        detected from the message expressions' string form;
        ``uses_src``/``uses_dst`` override the detection for
        expressions whose repr hides the reference (e.g. a column
        captured through a UDF).

        NB when a vertex join is skipped, edges are trusted to be
        endpoint-closed over the vertex set (the ``Graph`` invariant);
        the joins previously doubled as a membership filter, so a
        dangling edge now delivers to its raw endpoint id. Pass
        ``uses_src=True``/``uses_dst=True`` to force the join (and its
        filtering) on graphs with dangling edges.
        """
        if to_dst is None and to_src is None:
            raise ValueError("aggregate_messages: provide to_dst and/or to_src")

        def _refs(name: str) -> bool:
            # `src.`/`dst.` as a standalone struct root — `edge.src` (the
            # edge's own endpoint field) must not count as a vertex ref.
            pat = re.compile(rf"(?:^|[^.\w`]){name}`?\.")
            return any(
                pat.search(str(m)) is not None for m in (to_dst, to_src) if m is not None
            )

        needs_src = uses_src if uses_src is not None else _refs("src")
        needs_dst = uses_dst if uses_dst is not None else _refs("dst")
        v, e = self.vertices, self.edges
        combined = e.select(F.struct(*e.columns).alias("edge"))
        if needs_src:
            combined = combined.join(
                v.select(F.struct(*v.columns).alias("src")),
                F.col("edge.src") == F.col("src.id"),
            )
        if needs_dst:
            combined = combined.join(
                v.select(F.struct(*v.columns).alias("dst")),
                F.col("edge.dst") == F.col("dst.id"),
            )
        # Receiver ids come from the edge itself (equal to the joined
        # struct's id when the join happened, available either way).
        parts = []
        if to_dst is not None:
            parts.append(combined.select(F.col("edge.dst").alias("id"), to_dst.alias("msg")))
        if to_src is not None:
            parts.append(combined.select(F.col("edge.src").alias("id"), to_src.alias("msg")))
        msgs = parts[0]
        for p in parts[1:]:
            msgs = msgs.unionByName(p)
        return msgs.groupBy("id").agg(agg.alias("agg_msg"))


__all__ = [
    "Graph",
    "betweenness",
    "bfs",
    "edge_betweenness",
    "bipartite_components",
    "connected_components",
    "densest_subgraph_peel",
    "find_motif",
    "hits",
    "label_propagation",
    "modularity",
    "pagerank",
    "pregel",
    "risk_propagation",
    "shortest_paths",
    "strongly_connected_components",
    "temporal_reachability",
    "triangle_count",
    "weighted_sssp",
]
