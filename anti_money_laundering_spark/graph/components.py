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

from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    from anti_money_laundering_spark.graph import Graph

#: Row budget of the small-graph collapse: a graph whose counted work
#: measure is at most this many rows is solved in ONE single-task
#: vectorized pass instead of an iterative distributed loop (r14
#: optimization round; guide §1.2 "the distributed algorithm" / §2.6
#: scheduling floors). Sized for worker memory, not speed: 2M int64
#: pairs are ~32 MB of Arrow batches plus a few transient numpy
#: copies (sort + inverse) — comfortably inside a default Python
#: worker. Rows bound bytes too: the id-type gate admits only integral
#: ids of at most 8 bytes, so an edge row carries at most 16 B of ids.
#: Above the budget, per-round shuffles dominate the scheduling floor
#: and the distributed loop is the right shape anyway. The gate reads
#: this constant at call time.
SMALL_GRAPH_COLLAPSE_ROWS = 2_000_000

#: Integral id types the single-task collapse handles: numpy's sort
#: order on these provably matches Spark's (min-label semantics need
#: identical ordering). Strings are excluded — UTF8 binary collation
#: vs Python codepoint ordering can diverge on non-ASCII ids.
_COLLAPSE_ID_TYPES = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)


def _single_task_collapse(
    frame: DataFrame,
    size: Callable[[], int],
    kernel: Callable,
    schema: T.StructType,
    args: Callable[[], tuple] = tuple,
) -> DataFrame | None:
    """The small-graph collapse gate of CC, landmark Brandes and the
    densest peel. If ``frame``'s first column (a vertex id) has a
    ``_COLLAPSE_ID_TYPES`` type and the counted work ``size()`` fits
    SMALL_GRAPH_COLLAPSE_ROWS, returns ``frame`` funneled into ONE
    ``mapInPandas`` task (coalesce(1) over checkpointed blocks — no
    shuffle) calling ``kernel(*column_arrays, *args())`` once, which
    returns a pandas frame of ``schema`` or None; else None, and the
    caller runs its distributed loop. ``args`` (driver-side kernel
    inputs) runs only once the gate admits. The counted budget bounds
    the task's memory whatever the dataset size."""
    if not isinstance(frame.schema.fields[0].dataType, _COLLAPSE_ID_TYPES):
        return None
    if size() > SMALL_GRAPH_COLLAPSE_ROWS:
        return None
    cols = frame.columns
    extra = args()

    def _run(batches):
        import numpy as np

        parts: list[list] = [[] for _ in cols]
        for b in batches:
            if len(b):
                for part, c in zip(parts, cols):
                    part.append(b[c].to_numpy())
        if parts[0]:
            out = kernel(*(np.concatenate(part) for part in parts), *extra)
            if out is not None:
                yield out

    return frame.coalesce(1).mapInPandas(_run, schema)


def _collapse_small_graph(bi: DataFrame) -> DataFrame | None:
    """Exact min-label connected components of a SMALL bidirectional
    edge list (work measure: its 2|E| rows) in one task, solved with
    vectorized min-label propagation + full pointer compression per
    pass (O(|E|) numpy work per pass, O(log n) passes). Returns (id,
    component = min member id) for every vertex incident to an edge;
    isolated vertices are the caller's left-join fold. None when the
    gate refuses."""
    dt = bi.schema["src"].dataType
    out_schema = T.StructType([T.StructField(c, dt) for c in ("id", "component")])

    def _unionfind(src, dst):
        import numpy as np
        import pandas as pd

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
        return pd.DataFrame({"id": ids, "component": ids[label]})

    return _single_task_collapse(bi, bi.count, _unionfind, out_schema)


def connected_components(
    graph: "Graph",
    max_iter: int = 100,
    stats: dict | None = None,
    dedup_edges: bool = True,
    dedup_vertices: bool = True,
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

    The bidirectional edge table (2|E| rows) is checkpointed once and
    every round scans the cached blocks, so the edge-side distinct
    shuffle is paid exactly once. ``localCheckpoint`` does NOT
    preserve hash partitioning through the DataFrame API (the
    checkpointed side re-Exchanges in every round's join regardless of
    a pre-``repartition``); the per-round shuffle model is in
    SCALE.md §CC.

    Small-graph collapse (r14 optimization round; guide §1.2/§2.6):
    when that table's counted row count fits
    ``SMALL_GRAPH_COLLAPSE_ROWS``, the whole fixpoint is ONE
    single-task vectorized pass (:func:`_collapse_small_graph`): the
    loop's per-round cost at this size is almost entirely the per-job
    scheduling floor (~0.25 s/round on the bench box), so a 13-round
    chain-graph fixpoint pays ~3 s to move kilobytes. The collapse is
    scale-adaptive, not fixture-tuned: a 100 TB edge table fails the
    gate and runs the distributed loop, and the gate counts the
    just-checkpointed edge blocks (one cheap scan the loop was about
    to materialize anyway). Labels are identical by construction
    (same min-label semantics; equality with the loop pinned in
    tests/test_graph.py). Only integral id types take the fast path
    (numpy vs Spark ordering is provably identical there; strings can
    collate differently). ``stats`` gets ``rounds=0, collapsed=True``.

    The loop is DELTA (frontier) propagation (r13 optimization round,
    guide §2.3 "shuffle fewer bytes"): after round 1, only vertices
    whose label changed last round re-send. Soundness invariant
    (induction): round 1 delivers every initial label to every
    neighbor (min(src) over the full bidirectional edge set);
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
    gets a label row here and cannot relay, where the full-propagation
    union+groupBy fold this loop replaced happened to create one —
    closure is the caller's obligation (``Graph.validate`` checks it).
    Per-round cost: the message join touches frontier-adjacent edges
    instead of all 2|E|, and the fold back into the label table is a
    left join against the (small) incoming-min aggregate instead of a
    full-label union+regroup, so once the frontier collapses a round
    shuffles ~nothing.

    The loop is join-shaped, with no Union node, on purpose:
    Catalyst's Union constraint rewrite crashes (key-not-found at the
    next localCheckpoint) when a loop's inputs are themselves
    checkpointed LogicalRDDs carrying join-derived constraints, which
    is exactly what :func:`bipartite_components` feeds it. The same
    defect rules out halving the cached edge footprint by
    checkpointing only the DIRECTED |E| rows and unioning the reversal
    lazily per round: a Union over a checkpointed LogicalRDD plus its
    own projection trips the rewrite in every join mode on this Spark
    version. Revisit if that rewrite is fixed.

    ``dedup_edges`` / ``dedup_vertices`` (r13 optimization round):
    repeated EDGES only repeat a message into a min — always harmless —
    so ``dedup_edges`` is purely a size optimization. The loop's fold
    (a left join from the label table) emits one output row per
    repeated VERTEX id, so ``dedup_vertices=False`` additionally
    REQUIRES unique vertex ids from the caller. Callers whose inputs
    satisfy these contracts by construction (verified near-dup pairs
    with id_a < id_b over endpoint-derived vertices, an
    already-distinct projection) pass False and skip one full-input
    shuffle each; the near-dup cluster graphs are tiny relative to
    their corpus, so at fixture scale these shuffles WERE the cost.
    Defaults stay True: at 100 TB an edge table with heavy duplicate
    structure should shrink once before being iterated.
    """
    import time as _time

    edges = graph.edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    if dedup_edges:
        edges = edges.distinct()
    # Undirected: propagate labels both ways.
    bi = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)

    vertex_ids = graph.vertices.select("id")
    if dedup_vertices:
        vertex_ids = vertex_ids.distinct()

    comp_map = _collapse_small_graph(bi)
    if comp_map is not None:
        if stats is not None:
            stats.update(rounds=0, round_seconds=[], collapsed=True)
        return vertex_ids.join(comp_map, "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )

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

    for _it in range(max_iter + 1):
        _t0 = _time.perf_counter()
        if _it == 0:
            # Round-1 specialization (r13 optimization round): initial
            # labels are the identity map, so min(src) per dst IS the
            # round-1 incoming minimum — no label join (which would
            # shuffle the full 2|E| edge set twice), and it delivers
            # EVERY initial label to every neighbor, which is what the
            # frontier induction needs as its base case.
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
        # (sf0.1: 2.2 s → 1.9 s, rounds unchanged at 5). A
        # jump-lowered label joins the frontier.
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
        # Lazy checkpoint + fixpoint agg = ONE job per round: the sum
        # action materializes the checkpoint blocks, which the next
        # round's join then reads, and the join lineage is truncated
        # (SURVEY §4 O5).
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

    # star/right_vertices are already distinct'd above (and unique),
    # so the inner loop skips its own dedup shuffles.
    right_labels = connected_components(
        _G(right_vertices, star),
        max_iter=max_iter,
        stats=stats,
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
