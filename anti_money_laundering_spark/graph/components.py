"""Connected components as an iterative DataFrame program (SURVEY §2.8 G4).

Replaces GraphFrames' connectedComponents (01_aml_network_analysis.py:146)
with min-label propagation: every vertex starts labeled with its own id;
each round, labels flow across (undirected) edges and each vertex keeps
the minimum seen. Fixpoint when no label changes. The component label is
therefore ``min(member id)`` — deterministic and portable, unlike
GraphFrames' packed partition<<32 longs (01:212).

Scale posture:
- each round is one shuffle-join (labels x edges) + one partial-agg'd
  min-groupBy — both keyed on vertex id, so AQE can coalesce/skew-split;
- ``localCheckpoint`` per round truncates the exponentially-growing
  lineage (SURVEY §4 O5), mirroring the reference's mandatory
  setCheckpointDir (01:122, :145);
- a pointer-jumping shortcut each round (label := label(label)) gives
  O(log diameter) rounds — the same asymptotics as alternating
  large-star/small-star (Kiveris et al., "Connected Components in
  MapReduce and Beyond") with a simpler driver.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    from anti_money_laundering_spark.graph import Graph

#: Default edge-row budget (bidirectional rows = 2|E|) below which the
#: whole fixpoint is replaced by ONE single-task vectorized pass
#: (r14 optimization round; guide §1.2 "the distributed algorithm" /
#: §2.6 scheduling floors). Sized for worker memory, not speed: 2M
#: int64 pairs are ~32 MB of Arrow batches plus a few transient numpy
#: copies (sort + inverse) — comfortably inside a default Python
#: worker. Above it, per-round shuffles dominate the scheduling floor
#: and the distributed loop is the right shape anyway.
SMALL_GRAPH_COLLAPSE_ROWS = 2_000_000

#: Integral id types the single-task collapse handles: numpy's sort
#: order on these provably matches Spark's (min-label semantics need
#: identical ordering). Strings are excluded — UTF8 binary collation
#: vs Python codepoint ordering can diverge on non-ASCII ids.
_COLLAPSE_ID_TYPES = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)


def _collapse_small_graph(bi: DataFrame) -> DataFrame:
    """Exact min-label connected components of a SMALL edge list in one
    task: all (src, dst) rows are funneled into a single mapInPandas
    task (coalesce(1) over the already-materialized checkpoint blocks —
    no shuffle) and solved with vectorized min-label propagation +
    full pointer compression per pass (O(|E|) numpy work per pass,
    O(log n) passes). Returns (id, component = min member id) for every
    vertex incident to an edge; isolated vertices are the caller's
    left-join fold. Distributed-safe by construction: the caller gates
    on a counted row budget (SMALL_GRAPH_COLLAPSE_ROWS), so the task's
    memory is bounded no matter what the full dataset size is."""
    dt = bi.schema["src"].dataType
    out_schema = T.StructType(
        [T.StructField("id", dt), T.StructField("component", dt)]
    )

    def _unionfind(batches):
        import numpy as np
        import pandas as pd

        srcs, dsts = [], []
        for b in batches:
            if len(b):
                srcs.append(b["src"].to_numpy())
                dsts.append(b["dst"].to_numpy())
        if not srcs:
            return
        src = np.concatenate(srcs)
        dst = np.concatenate(dsts)
        ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        ea, eb = inv[: len(src)], inv[len(src) :]
        # ids is sorted ascending, so index order == id order and the
        # min INDEX per component is the min ID's index.
        label = np.arange(len(ids))
        while True:
            before = label
            m = np.minimum(label[ea], label[eb])
            label = label.copy()
            np.minimum.at(label, ea, m)
            np.minimum.at(label, eb, m)
            # pointer jumping to a fully-compressed forest: labels only
            # decrease, so label[label] <= label elementwise
            while True:
                nl = label[label]
                if np.array_equal(nl, label):
                    break
                label = nl
            if np.array_equal(label, before):
                break
        yield pd.DataFrame({"id": ids, "component": ids[label]})

    return bi.coalesce(1).mapInPandas(_unionfind, out_schema)


def connected_components(
    graph: "Graph",
    max_iter: int = 100,
    stats: dict | None = None,
    join_rounds: bool = False,
    edge_storage: str = "bi",
    frontier: bool = True,
    dedup_edges: bool = True,
    dedup_vertices: bool = True,
    collapse_rows: int | None = SMALL_GRAPH_COLLAPSE_ROWS,
    validate: bool = False,
) -> DataFrame:
    """Return ``(id, component)`` with component = min id reachable.

    Treats edges as undirected (the reference's identity graph is
    stored directed entity→attribute but resolved undirected,
    SURVEY §1.3).

    ``stats`` (optional dict) receives ``rounds`` and
    ``round_seconds`` (wall time of each fixpoint round, which
    includes the label-sum action that materializes the round's
    checkpoint) — the drift diagnostics behind SCALE.md §CC.

    Raises ``RuntimeError`` if labels still change after ``max_iter``
    rounds (never returns unconverged labels). The round that only
    confirms the fixpoint is not counted against ``max_iter``.

    ``join_rounds=True`` folds incoming labels with a left join +
    ``least`` instead of union + re-group — same min, one more shuffle
    per round (measured +20% wall on the sf0.1 identity graph), but no
    Union node: Catalyst's Union constraint rewrite crashes
    (key-not-found at localCheckpoint) when the loop's inputs are
    themselves checkpointed LogicalRDDs carrying join-derived
    constraints, which is exactly what :func:`bipartite_components`
    feeds it. Default stays the faster union form.

    ``edge_storage`` picks how the per-round bidirectional edge input
    is held (r6 verdict item 6; A/B numbers in SCALE.md §CC):

    - ``"bi"`` (default): checkpoint the materialized bidirectional
      table (2|E| rows) once; every round scans the cached blocks.
      The edge-side distinct shuffle is paid exactly once.
    - ``"recompute"``: no checkpoint; re-derive
      filter+distinct+union from the source every round, paying the
      distinct's full edge shuffle PER ROUND. Kept for the A/B
      harness (tools/ab_cc_edges.py) and for memory-starved callers
      that prefer recompute over caching 2|E| rows.

    A third variant — checkpoint only the DIRECTED |E| rows and union
    the reversal lazily per round, halving the cached footprint — is
    NOT offered: a Union over a checkpointed LogicalRDD plus its own
    projection trips Catalyst's union-constraint rewrite
    (``key not found`` at the loop's next localCheckpoint) in every
    join mode on this Spark version, the same defect class the
    ``join_rounds`` docstring pins. Revisit if that rewrite is fixed.

    Note ``localCheckpoint`` does NOT preserve hash partitioning
    through the DataFrame API (the checkpointed side re-Exchanges in
    every round's join regardless of a pre-``repartition``), so
    storage choice changes bytes HELD, not bytes SHUFFLED; the
    per-round shuffle model is in SCALE.md §CC.

    ``frontier=True`` (default; r13 optimization round, guide §2.3
    "shuffle fewer bytes") switches rounds 2+ to DELTA propagation:
    only vertices whose label changed last round re-send. Soundness
    invariant (induction): round 1 delivers every initial label to
    every neighbor (min(src) over the full bidirectional edge set);
    afterwards, a vertex whose label did NOT change in round k already
    delivered its current label in some round <= k, so each neighbor
    folded it into its own min then — re-sending is a no-op. The
    pointer-jump shortcut also lowers labels, so jump-lowered vertices
    are flagged into the frontier too. UNDER THE GRAPH CONTRACT
    (edges' endpoints ⊆ vertices — the same endpoint-closure invariant
    the hop-1 specialization and aggregate_messages already trust) the
    label TRAJECTORY (and so the round count and final labels) is
    identical to full re-propagation. A contract-VIOLATING dangling
    intermediate vertex (present in edges, absent from vertices) never
    gets a label row here and cannot relay, where the legacy
    union+groupBy fold happened to create one — closure is the
    caller's obligation either way, as it already was for the hop-1
    specialization. What changes is per-round cost: the message join
    touches frontier-adjacent edges instead of all 2|E|, and the fold
    back into the label table is a left join against the (small)
    incoming-min aggregate instead of a full-label union+regroup, so
    once the frontier collapses a round shuffles ~nothing. Implemented
    join-shaped (no Union node), so it is also immune to the Catalyst
    union-constraint crash class above; ``join_rounds`` is moot in
    this mode. ``frontier=False`` keeps the historical full-propagation
    loop for A/B tooling.

    ``dedup_edges`` / ``dedup_vertices`` (r13 optimization round):
    repeated EDGES only repeat a message into a min — always harmless —
    so ``dedup_edges`` is purely a size optimization. Repeated VERTEX
    ids are only collapsed by the legacy union+groupBy fold; the
    default frontier fold (a left join from the label table) would
    emit one output row per duplicate, so ``dedup_vertices=False``
    additionally REQUIRES unique vertex ids from the caller. Callers
    whose inputs satisfy these contracts by construction (verified
    near-dup pairs with id_a < id_b over endpoint-derived vertices,
    an already-distinct projection) pass False and
    skip one full-input shuffle each; the near-dup cluster graphs are
    tiny relative to their corpus, so at fixture scale these shuffles
    WERE the cost. Defaults stay True: at 100 TB an edge table with
    heavy duplicate structure should shrink once before being iterated.

    ``collapse_rows`` (r14 optimization round; guide §1.2/§2.6): when
    the bidirectional edge table is SMALL — its counted row count is at
    most this budget — the whole fixpoint is replaced by ONE
    single-task vectorized pass (:func:`_collapse_small_graph`): the
    iterative loop's per-round cost at this size is almost entirely the
    per-job scheduling floor (~0.25 s/round on the bench box), so a
    13-round chain-graph fixpoint pays ~3 s to move kilobytes. The
    collapse is scale-adaptive, not fixture-tuned: a 100 TB edge table
    fails the gate and runs the distributed loop unchanged, and the
    gate is an exact count of the just-checkpointed edge blocks (one
    cheap scan the loop was about to materialize anyway). Labels are
    identical by construction (same min-label semantics; equality
    pinned in tests/test_graph.py against both loop modes). Only
    integral id types take the fast path (numpy vs Spark ordering is
    provably identical there; strings can collate differently).
    ``stats`` gets ``rounds=0, collapsed=True``. ``None`` disables (the
    A/B and round-instrumentation tools do this);
    ``edge_storage="recompute"`` also skips it, since the collapse
    wants the counted, materialized checkpoint blocks.

    ``validate=True`` (r14, opt-in debug guard): assert the Graph
    contract — unique vertex ids and endpoint closure — with two cheap
    aggregation jobs before running, raising ``ValueError`` on
    violation. The frontier fold and the motif id-only fast path
    silently produce different results on contract-violating inputs
    than the lenient legacy folds did; this flag makes such inputs fail
    loudly instead. Default off (two extra jobs per call).
    """
    import time as _time
    if validate:
        graph.validate()
    edges = graph.edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    if dedup_edges:
        edges = edges.distinct()
    # Undirected: propagate labels both ways.
    bi = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    if edge_storage == "bi":
        bi = bi.localCheckpoint(eager=False)
    elif edge_storage != "recompute":
        raise ValueError(f"unknown edge_storage: {edge_storage!r} (bi|recompute)")

    vertex_ids = graph.vertices.select("id")
    if dedup_vertices:
        vertex_ids = vertex_ids.distinct()

    # Small-graph collapse (see docstring): count the materialized
    # bidirectional checkpoint; at or under budget, solve in one task.
    if (
        collapse_rows is not None
        and edge_storage == "bi"
        and isinstance(bi.schema["src"].dataType, _COLLAPSE_ID_TYPES)
        and bi.count() <= collapse_rows
    ):
        comp_map = _collapse_small_graph(bi)
        out = vertex_ids.join(comp_map, "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )
        if stats is not None:
            stats.update(rounds=0, round_seconds=[], collapsed=True)
        return out

    labels = vertex_ids.withColumn("component", F.col("id"))
    # lazy: round 1 is the materializing action — init runs ZERO jobs
    # (r13 optimization round; was eager=True + a separate sum job,
    # then lazy + an initial sum job).
    labels = labels.localCheckpoint(eager=False)

    # Labels are monotonically non-increasing (each round takes a min over
    # a superset that includes the old label), so the label sum strictly
    # decreases iff any label changed — a one-column agg is a much cheaper
    # fixpoint test than a join-and-compare against the previous round.
    # decimal(38,0) so the sum can't overflow with 64-bit ids at scale.
    def _label_sum(df: DataFrame):
        return df.agg(F.sum(F.col("component").cast("decimal(38,0)"))).collect()[0][0]

    # No initial sum job: round 1 always lowers SOME label on any graph
    # with at least one non-loop edge, so a round-1 fixpoint test can
    # only fire on an edgeless input — where skipping it costs one
    # extra (empty, cheap) confirm round instead of an up-front
    # full-table aggregation job on EVERY run.
    # So the fixpoint test lags one round: ``max_iter`` label-changing
    # rounds get one more round to confirm them, and the loop raises
    # only if labels still change in that round.
    prev_sum = None
    rounds = 0
    round_seconds: list[float] = []

    if frontier:
        for _it in range(max_iter + 1):
            _t0 = _time.perf_counter()
            if _it == 0:
                # Round-1 specialization (same as the legacy loop):
                # initial labels are the identity map, so min(src) per
                # dst IS the round-1 incoming minimum — no label join,
                # and it delivers EVERY initial label to every
                # neighbor, which is what the frontier induction
                # needs as its base case.
                incoming_min = bi.groupBy(F.col("dst").alias("id")).agg(
                    F.min("src").alias("__inc")
                )
            else:
                fr = labels.filter("changed").select(
                    F.col("id").alias("__fid"), F.col("component").alias("__fcomp")
                )
                incoming_min = (
                    bi.join(fr, bi.src == F.col("__fid"))
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.min("__fcomp").alias("__inc"))
                )
            # Fold messages back: new label = min(old, incoming);
            # changed = strictly lowered this round. `component` here
            # is the OLD label (incoming_min carries only __inc).
            new_labels = labels.join(incoming_min, "id", "left").select(
                "id",
                F.least(F.coalesce("__inc", "component"), "component").alias(
                    "component"
                ),
                (F.col("__inc").isNotNull() & (F.col("__inc") < F.col("component"))).alias(
                    "changed"
                ),
            )
            # Pointer jumping, alternate rounds (see the legacy loop's
            # rationale); a jump-lowered label joins the frontier.
            if _it % 2 == 1:
                parent = new_labels.select(
                    F.col("id").alias("__pid"), F.col("component").alias("__pcomp")
                )
                new_labels = (
                    new_labels.join(
                        parent, new_labels.component == F.col("__pid"), "left"
                    ).select(
                        "id",
                        F.coalesce("__pcomp", "component").alias("component"),
                        (
                            F.col("changed")
                            | (
                                F.col("__pcomp").isNotNull()
                                & (F.col("__pcomp") < F.col("component"))
                            )
                        ).alias("changed"),
                    )
                )
            new_labels = new_labels.localCheckpoint(eager=False)
            new_sum = _label_sum(new_labels)
            labels = new_labels
            rounds += 1
            round_seconds.append(round(_time.perf_counter() - _t0, 3))
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        else:
            raise RuntimeError(f"connected_components: no fixpoint after {max_iter} rounds")
        if stats is not None:
            stats.update(rounds=rounds, round_seconds=round_seconds)
        return labels.select("id", "component")

    for _it in range(max_iter + 1):
        _t0 = _time.perf_counter()
        # Labels seen by each vertex via incoming propagation. ROUND 1
        # SPECIALIZATION (r13 optimization round): the initial labels
        # are the identity map, so joining the edge table against them
        # is a no-op that still shuffles the full 2|E| edge set once on
        # src and once more for the join — the source's label IS its
        # id. Substituting src for the joined label removes one
        # edge-scale shuffle + join from every CC run at any scale.
        # Sound under the Graph endpoint-closure invariant (edges'
        # endpoints ⊆ vertices — the same contract
        # Graph.aggregate_messages trusts when it skips vertex joins);
        # a dangling-src edge would now propagate its raw src id where
        # the join used to drop it, so closure is the caller's
        # contract, as it already was for aggregate_messages.
        if join_rounds:
            if _it == 0:
                incoming_min = bi.groupBy(F.col("dst").alias("id")).agg(
                    F.min("src").alias("__inc")
                )
            else:
                incoming_min = (
                    bi.join(labels, bi.src == labels.id)
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.min("component").alias("__inc"))
                )
            new_labels = labels.join(incoming_min, "id", "left").select(
                "id",
                F.least(F.coalesce("__inc", "component"), "component").alias("component"),
            )
        else:
            if _it == 0:
                incoming = bi.select(
                    F.col("dst").alias("id"), F.col("src").alias("component")
                )
            else:
                incoming = bi.join(labels, bi.src == labels.id).select(
                    F.col("dst").alias("id"), F.col("component")
                )
            new_labels = (
                labels.select("id", "component")
                .union(incoming)
                .groupBy("id")
                .agg(F.min("component").alias("component"))
            )
        # Pointer jumping: component ids are themselves vertex ids with
        # labels, and labels only decrease — so label(label(u)) <=
        # label(u). The shortcut join halves label-chain lengths,
        # keeping convergence O(log diameter) on chain-like graphs
        # (same effect as large-star/small-star). Run it every OTHER
        # round: the asymptotics survive (measured: a 64-chain
        # converges in 11 rounds alternating vs 65 with no jumping)
        # while low-diameter graphs — where jumping never fires
        # usefully, e.g. the bipartite identity graph's star-shaped
        # components — skip a third of their per-round shuffles
        # (sf0.1: 2.2 s → 1.9 s, rounds unchanged at 5).
        if _it % 2 == 1:
            parent = new_labels.select(
                F.col("id").alias("__pid"), F.col("component").alias("__pcomp")
            )
            new_labels = (
                new_labels.join(parent, new_labels.component == F.col("__pid"), "left")
                .select("id", F.coalesce("__pcomp", "component").alias("component"))
            )
        # Lazy checkpoint + fixpoint agg = ONE job per round: the sum
        # action materializes the checkpoint blocks, which the next
        # round's join then reads, and the join lineage is truncated
        # (SURVEY §4 O5). An eager checkpoint here would spend a second
        # full pass per round just to materialize before the agg.
        new_labels = new_labels.localCheckpoint(eager=False)
        new_sum = _label_sum(new_labels)
        labels = new_labels
        rounds += 1
        round_seconds.append(round(_time.perf_counter() - _t0, 3))
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(f"connected_components: no fixpoint after {max_iter} rounds")
    if stats is not None:
        stats.update(rounds=rounds, round_seconds=round_seconds)
    return labels


def bipartite_components(
    graph: "Graph",
    max_iter: int = 100,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components specialized to BIPARTITE graphs — every
    edge src→dst crosses from the left class to the right class (the
    reference's identity graph: person→attribute,
    01_aml_network_analysis.py:91-109). Output contract identical to
    :func:`connected_components`: ``(id, component)`` with component =
    min member id, covering both classes plus isolated vertices.

    Two left vertices are connected iff they share a right neighbor
    (transitively), so the component structure is fully determined by
    the RIGHT-projection: per left vertex, star its minimum right
    neighbor (hub) to its other right neighbors, then run the generic
    min-label loop on that projected graph only. The iterative state
    shrinks from |L|+|R| vertices to |R| — at 100 TB the left class is
    the ~10^10 customer rows while the right class is the distinct
    attribute values (orders of magnitude fewer), so every fixpoint
    round shuffles the small side only; the big side is touched by
    exactly THREE non-iterated shuffles (hub min-groupBy, hub→label
    join, min-person-per-component groupBy). On the sf0.1 fixture this
    replaces 5 full-graph rounds with 3 rounds over ~10^2 attribute
    vertices (SCALE.md §CC).

    The projection preserves components exactly: hub(p)~r edges exist
    iff person p links r with its hub, so right vertices are connected
    in the projection iff they're connected through persons in the
    original; each person belongs to its hub's component; the final
    label folds the min person id per component into the min right id
    (component = min over BOTH classes). Bipartiteness is the caller's
    contract (left ids appear only as src, right ids only as dst);
    equality with the generic loop is pinned in tests/test_graph.py.
    """
    # ONE shuffle over the big edge set: per left vertex, its hub (min
    # right neighbor) and full right-neighbor set (bounded by per-row
    # attribute count — a schema constant, not data-sized).
    per_left = (
        graph.edges.select("src", "dst")
        .groupBy("src")
        .agg(F.min("dst").alias("hub"), F.collect_set("dst").alias("__nbrs"))
        # eager: three consumers (star, right vertex set, left join) —
        # lazy checkpointing here trips SPARK-lineage pruning under the
        # inner loop's own checkpoints (key-not-found on materialize)
        .localCheckpoint(eager=True)
    )
    # Checkpoints: the inner loop unions these plans with its own
    # checkpointed labels; Catalyst's Union constraint rewrite trips
    # over live explode lineage (key-not-found on the exploded attr),
    # and the loop would re-derive the projection every round anyway.
    star = (
        per_left.select(F.col("hub").alias("src"), F.explode("__nbrs").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    right_vertices = (
        per_left.select(F.explode("__nbrs").alias("id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    from anti_money_laundering_spark.graph import Graph as _G

    # join_rounds: inert under the frontier default (which is
    # join-shaped and never builds a Union), kept as frontier=False
    # INSURANCE — the legacy union form's constraint rewrite crashes
    # on these checkpointed-LogicalRDD inputs (see connected_components
    # docstring), so anyone flipping frontier off here must keep this
    # flag. star/right_vertices are already distinct'd above (and
    # unique), so the inner loop skips its own dedup shuffles.
    right_labels = connected_components(
        _G(right_vertices, star),
        max_iter=max_iter,
        stats=stats,
        join_rounds=True,
        dedup_edges=False,
        dedup_vertices=False,
    ).withColumnRenamed("component", "attr_comp")

    # Left vertices inherit their hub's attribute-component; the final
    # label folds min left id into min right id per component. Every
    # join against the attribute tables is tiny-side (|R| ≪ |L| is the
    # reason to use this path) — AQE converts them to broadcasts at
    # runtime without an unconditional hint.
    person_comp = (
        per_left.select(F.col("src").alias("id"), "hub")
        .join(right_labels.withColumnRenamed("id", "hub"), "hub")
        .select("id", "attr_comp")
    )
    min_person = person_comp.groupBy("attr_comp").agg(F.min("id").alias("__pmin"))
    label_map = (
        right_labels.select("attr_comp")
        .distinct()
        .join(min_person, "attr_comp", "left")
        .select(
            "attr_comp",
            F.least(F.coalesce("__pmin", F.col("attr_comp")), F.col("attr_comp")).alias(
                "component"
            ),
        )
    )
    out = (
        person_comp.join(label_map, "attr_comp")
        .select("id", "component")
        .unionByName(
            right_labels.join(label_map, "attr_comp").select("id", "component")
        )
    )
    isolated = (
        graph.vertices.select("id")
        .distinct()
        .join(out.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("component"))
    )
    return out.unionByName(isolated)
