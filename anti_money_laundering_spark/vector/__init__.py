"""Similarity search over embedding columns (north-star operator; the
reference has no vector surface — BASELINE.json extends it).

Two paths:

- **brute-force cosine top-k** — the exact baseline: block-nested
  cross join, dot product as a codegen'd ``aggregate(zip_with(...))``
  expression (JVM-side, no Python), window rank per query. O(n·q) —
  correct at any scale but quadratic; the oracle for the ANN path.
- **LSH-bucketed ANN** — random-hyperplane signatures (Charikar 2002):
  b deterministic pseudo-random hyperplanes hash each vector to a
  b-bit bucket; probing compares only vectors sharing a bucket or
  one of its Hamming-1 neighbors (multi-probe, recovers boundary
  misses).
  Bucket join = one shuffle on the signature; at 100 TB this is the
  path — brute force is the correctness check.

Signatures are one numpy GEMM per Arrow batch (vector-matrix against
the ±1 hyperplane matrix) inside a pandas_udf — a per-component
higher-order expression evaluates interpreted and is >50× slower.
Hyperplanes come from a fixed-seed RandomState regenerated inside each
task: deterministic, identical across executors, no model to ship.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anti_money_laundering_spark.sources import ensure_parallelism

#: Work gate for widening a narrow corpus scan before a broadcast-query
#: scoring pass (r14, guide §2.6/§4). The scoring cost is
#: ~ n_queries x corpus_bytes (every corpus element is multiplied
#: against every query); widening a single-partition scan costs a tiny
#: round-robin shuffle plus ~0.25 s of extra python-task dispatch on
#: local[32]. Measured serial GEMM throughput on this box is
#: ~3e9 byte-query units/s (the 10x scaling fixture's 2.6e10-unit
#: cosine pass ran 8.1 s in one task), so the crossover where the
#: parallel win clears the dispatch overhead sits near 8e8 units;
#: 2e9 adds safety margin (sf0.1's 2.6e8-unit pass measured FASTER
#: unwidened: 0.40 vs 0.65 s — never widen there). At cluster scale a
#: real corpus arrives with hundreds of partitions and the widen is a
#: no-op either way — the gate only decides for pathologically narrow
#: inputs.
_WIDEN_WORK_THRESHOLD = 2e9


def _batch_topk_frame(
    q_ids: np.ndarray,
    sims: np.ndarray,
    n_ids: np.ndarray,
    kk: int,
    disallowed: np.ndarray,
    with_cosine: bool = True,
) -> "pd.DataFrame | None":
    """Vectorized per-batch partial top-k over a (n_queries, batch)
    similarity matrix — ONE DataFrame per batch instead of one per
    (query, batch) (r14, guide §4: the per-query python loop yielded
    n_queries x n_partitions tiny frames; at the 10x scaling fixture
    that was 64k pandas constructions per pass).

    Exact tie-break parity with the old per-query
    ``lexsort((n_ids, -row))``: columns are ordered by neighbor id
    once, then a STABLE argsort of -sims keeps the smaller neighbor id
    first among equal cosines. ``disallowed`` (n_q x B bool) marks
    pairs to exclude (self-matches / non-candidates); their sims
    become -inf, which no real cosine can reach, and survivors are
    filtered on finiteness."""
    colorder = np.argsort(n_ids, kind="stable")
    nid = n_ids[colorder]
    s = np.where(disallowed[:, colorder], -np.inf, sims[:, colorder])
    kk = min(kk, s.shape[1])
    if kk <= 0:
        return None
    order = np.argsort(-s, axis=1, kind="stable")[:, :kk]
    top = np.take_along_axis(s, order, axis=1)
    qi, ci = np.nonzero(np.isfinite(top))
    if qi.size == 0:
        return None
    data = {"query_id": q_ids[qi], "neighbor_id": nid[order[qi, ci]]}
    if with_cosine:
        data["cosine"] = top[qi, ci]
    return pd.DataFrame(data)


def _widen_for_work(corpus: DataFrame, n_queries: int) -> DataFrame:
    """Widen ``corpus`` to defaultParallelism ONLY when the estimated
    scoring work (n_queries x plan-size bytes) is large enough that a
    serial single-partition pass would dominate the query (see
    _WIDEN_WORK_THRESHOLD). Plan-size stats are plan-time only — no
    job runs here."""
    try:
        size = float(
            str(corpus._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:  # stats unavailable: fall back to always-widen
        return ensure_parallelism(corpus, corpus.sparkSession)
    if n_queries * size < _WIDEN_WORK_THRESHOLD:
        return corpus
    return ensure_parallelism(corpus, corpus.sparkSession)

__all__ = [
    "cosine_topk",
    "cosine_topk_blas",
    "cosine_pairs_udf",
    "cosine_pairs_blas",
    "table_buckets_udf",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "quantize_int8",
    "ann_quantized_topk",
]


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x AS double) * cast(y AS double)), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, 0.0D, (acc, v) -> acc + cast(v AS double) * cast(v AS double)))"


def cosine_similarity(a: str, b: str) -> F.Column:
    """Cosine similarity between two array<float|double> columns as a
    single JVM expression (interpreted higher-order — exact and
    oracle-matchable, right for small/oracle paths; candidate
    rescoring at volume uses :func:`cosine_pairs_udf`)."""
    return F.expr(f"{_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)})")


def cosine_pairs_udf():
    """Vectorized pairwise cosine: pandas_udf over two array columns,
    one einsum + two norms per Arrow batch. Use for rescoring
    candidate pairs at volume — the expression form evaluates its
    lambda per element, interpreted."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.vstack(a.to_numpy()).astype(np.float64)
        B = np.vstack(b.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(num / np.maximum(den, 1e-300))

    return cos


def cosine_topk(
    queries: DataFrame,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    assume_small: bool = False,
) -> DataFrame:
    """Exact top-k nearest neighbors by cosine for every query vector.

    Output: (query_id, neighbor_id, cosine, rank). Ties break on
    neighbor id (deterministic). Self-matches are excluded when query
    and corpus ids collide.

    Default path is :func:`cosine_topk_blas` (broadcast queries +
    batched GEMM) — pure plan construction, NO eager action, and no
    theta-join to go accidentally quadratic. ``assume_small=True``
    selects the readable expression-based formulation instead — a
    non-equi self-join, O(|queries|·|vectors|) comparisons — kept as
    the oracle the GEMM path is tested against (callers own the size
    judgment, hence the name).
    """
    if not assume_small:
        return cosine_topk_blas(queries, vectors, id_col=id_col, vec_col=vec_col, k=k)
    # queries is typically a filtered view of vectors (shared lineage);
    # qualified aliases keep the self-join unambiguous.
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")).alias("q")
    v = vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vv")).alias("v")
    scored = q.join(
        v, F.col("q.query_id") != F.col("v.neighbor_id"), "inner"
    ).select(
        "query_id",
        "neighbor_id",
        cosine_similarity("__qv", "__vv").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_topk_blas(
    queries: DataFrame,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact cosine top-k via broadcast-queries + per-partition GEMM.

    The scale shape for brute-force scoring: the (small) query matrix
    is collected once and broadcast; the corpus streams through
    ``mapInPandas`` in Arrow batches, each batch scored against ALL
    queries with one numpy (BLAS) matmul, keeping only that batch's
    top-k per query; a final window rank merges the per-batch
    candidates (batches*k rows per query, never the full n*q matrix).
    Same output contract as :func:`cosine_topk`.

    ``max_queries`` guards the driver collect — beyond it, chunk the
    query set or use :func:`ann_lsh_topk`.
    """
    q_rows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    if len(q_rows) > max_queries:
        raise ValueError(f"{len(q_rows)} queries exceed max_queries={max_queries}")
    # let numpy infer the id dtype (object for strings) — ids are only
    # compared for equality/order and echoed into the output
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_mat /= np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-300)
    sc = queries.sparkSession.sparkContext
    bc = sc.broadcast((q_ids, q_mat))

    out_schema = (
        f"query_id {dict(queries.dtypes)[id_col]}, "
        f"neighbor_id {dict(vectors.dtypes)[id_col]}, cosine double"
    )

    def score(batches):
        ids, mat = bc.value
        for pdf in batches:
            v = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-300)
            sims = mat @ v.T  # (n_queries, batch)
            n_ids = pdf[id_col].to_numpy()
            # vectorized per-batch partial top-k ordered by
            # (-cosine, neighbor_id) so boundary ties keep the same
            # winners the final window rank would (_batch_topk_frame)
            out = _batch_topk_frame(
                ids, sims, n_ids, k, disallowed=n_ids[None, :] == ids[:, None]
            )
            if out is not None:
                yield out

    # r14 (guide §2.6 / §4): the corpus scoring pass is the whole cost
    # of this function, and a small single-file parquet scan arrives as
    # ONE partition — the GEMM then runs serially in a single task
    # (measured on the 10x scaling fixture: 8.1 s wall ~ 8.6 CPU-s,
    # zero parallelism, identical wall at 8 and 32 cores). Widened
    # work-gated (see _widen_for_work) so fixture-scale passes keep
    # their cheaper unwidened floor.
    corpus = _widen_for_work(vectors.select(id_col, vec_col), len(q_rows))
    partial = corpus.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return partial.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_pairs_blas(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.5,
    max_vectors: int = 100_000,
    threshold_round: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine above a threshold: (id_a, id_b, cosine)
    with ``id_a < id_b``.

    ``threshold_round`` rounds the cosine to that many decimals BEFORE
    the ``>= min_cosine`` cut (oracle discipline: a pair within an ulp
    of the threshold must land on the same side in every engine — one
    flipped borderline edge changes whole transitive clusters
    downstream).

    Broadcast-matrix shape: the normalized corpus matrix is collected
    once and broadcast; each Arrow batch scores against it with one
    BLAS GEMM and emits only the surviving (``>= min_cosine``,
    ``id_a < id_b``) pairs — so neither the n² pair set nor any
    embedding payload ever crosses a shuffle. This is the exact
    VERIFICATION formulation: past ``max_vectors`` (broadcast ceiling)
    it refuses, pointing at the LSH candidate path, rather than
    silently becoming quadratic in memory.
    """
    rows = vectors.select(F.col(id_col), F.col(vec_col)).collect()
    if len(rows) > max_vectors:
        raise ValueError(
            f"{len(rows)} vectors exceed max_vectors={max_vectors}; use "
            "ann_lsh_topk / minhash-style candidates + rescoring at corpus scale"
        )
    ids = np.array([r[0] for r in rows])  # dtype inferred: ids may be strings
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-300)
    bc = vectors.sparkSession.sparkContext.broadcast((ids, mat))

    out_schema = f"id_a {dict(vectors.dtypes)[id_col]}, id_b {dict(vectors.dtypes)[id_col]}, cosine double"

    def score(batches):
        all_ids, all_mat = bc.value
        for pdf in batches:
            v = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-300)
            sims = v @ all_mat.T  # (batch, n)
            if threshold_round is not None:
                sims = np.round(sims, threshold_round)
            b_ids = pdf[id_col].to_numpy()
            # id_a < id_b keeps each unordered pair exactly once even
            # though every batch scores against the full corpus.
            keep = (sims >= min_cosine) & (b_ids[:, None] < all_ids[None, :])
            bi, ci = np.nonzero(keep)
            if bi.size:
                yield pd.DataFrame(
                    {"id_a": b_ids[bi], "id_b": all_ids[ci], "cosine": sims[bi, ci]}
                )

    # r14: widen a single-partition corpus scan before the all-pairs
    # scoring pass (work-gated; all-pairs work ~ n x corpus bytes —
    # see cosine_topk_blas, serial otherwise).
    return _widen_for_work(
        vectors.select(id_col, vec_col), len(rows)
    ).mapInPandas(score, schema=out_schema)


def _hyperplanes(num_planes: int, num_tables: int, dim: int, seed: int = 0) -> np.ndarray:
    """±1 random hyperplanes, (num_tables*num_planes, dim), fixed-seed
    RandomState — deterministic and identical wherever regenerated
    (driver or any executor task), so there is no model to ship."""
    rng = np.random.RandomState(seed)
    return rng.choice([-1.0, 1.0], size=(num_tables * num_planes, dim))


def _signatures(
    mat: np.ndarray, planes: np.ndarray, num_planes: int, num_tables: int
) -> np.ndarray:
    """Packed per-table bucket signatures, (n, num_tables) int64.

    Bit h of table t = sign of <v, r_{t,h}> (P(bit agrees) =
    1 - angle/π, Charikar 2002); the whole batch scores against all
    tables' hyperplanes in ONE numpy GEMM."""
    bits = (mat @ planes.T > 0).reshape(len(mat), num_tables, num_planes)
    weights = 1 << np.arange(num_planes, dtype=np.int64)
    return bits.astype(np.int64) @ weights


def table_buckets_udf(num_planes: int, num_tables: int, seed: int = 0):
    """Vectorized random-hyperplane bucketing: a pandas_udf mapping an
    ``array<float|double>`` column to ``array<long>`` of one packed
    ``num_planes``-bit bucket per hash table.

    Hyperplanes come from :func:`_hyperplanes`, generated lazily ONCE
    per task closure (the first Arrow batch fixes the dimensionality)
    and reused for every later batch — a few KB of ±1 floats, no
    fitted model to broadcast, and the fixed seed keeps executors in
    agreement."""
    from pyspark.sql.functions import pandas_udf

    cache: dict = {}

    @pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy()).astype(np.float64)  # (n, dim)
        planes = cache.get("planes")
        if planes is None or planes.shape[1] != mat.shape[1]:
            planes = _hyperplanes(num_planes, num_tables, mat.shape[1], seed)
            cache["planes"] = planes
        packed = _signatures(mat, planes, num_planes, num_tables)  # (n, num_tables)
        return pd.Series(list(packed))

    return buckets


#: ann_lsh_topk collects the query side for the broadcast-probe-map
#: fast path when it is at most this many rows (the same bound as
#: cosine_topk_blas's broadcast query matrix); larger query sets use
#: the symmetric shuffle formulation.
LSH_BROADCAST_MAX_QUERIES = 100_000


def ann_lsh_topk(
    queries: DataFrame,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 4,
    num_tables: int = 16,
    max_broadcast_queries: int = LSH_BROADCAST_MAX_QUERIES,
) -> DataFrame:
    """Approximate top-k: ``num_tables`` independent hash tables of
    ``num_planes`` hyperplanes each; candidates share a bucket, or
    one of its Hamming-1 neighbors (multi-probe), in ANY table; exact
    cosine + rank over the candidate union.

    Recall math: with per-bit agreement p, one table catches a pair
    w.p. ~p^planes + planes·p^(planes-1)(1-p); L tables
    make it 1-(1-hit)^L — tune planes to corpus size (bucket
    occupancy) and tables to recall.

    Two physical shapes with IDENTICAL output:

    - **broadcast probe map** (query batch ≤ ``max_broadcast_queries``,
      the common serving shape): the query signatures become per-table
      ``bucket -> query-index`` maps broadcast with the (normalized)
      query matrix; ONE ``mapInPandas`` pass over the corpus hashes
      each Arrow batch, unions its candidate queries per row, scores
      only candidate pairs (dense batches use one BLAS GEMM + mask,
      sparse batches gather pairs and einsum — work stays proportional
      to candidates) and emits per-batch partial top-k. No shuffle
      until the final window merge of batches*k rows per query.
    - **symmetric shuffle** (both sides huge): explode both sides onto
      (tbl, bucket) and equi-join — candidate generation is one
      shuffle on the derived key; per-pair rescoring follows.

    The defaults (4 planes x 16 tables, multi-probe) are tuned to the
    fixture corpora: per-pair miss probability ~(1-0.47)^16 ≈ 4e-5 at
    the fixtures' neighbor cosines, and the OUTPUT EQUALS the
    brute-force top-k at sf0.001/0.01/0.1 (pinned by
    tests/test_vector.py::test_lsh_topk_equals_bruteforce — the
    recall-1.0 pin that lets the catalog attach the exact DuckDB
    oracle). Larger corpora raise ``num_planes`` (bucket occupancy
    ~n/2^planes) and trade recall via ``num_tables`` — on a real
    corpus with actual near-duplicate structure (neighbor cosine well
    above the bulk), far fewer tables reach the same recall.
    """
    q_rows = (
        queries.select(F.col(id_col), F.col(vec_col))
        .limit(max_broadcast_queries + 1)
        .collect()
    )
    if len(q_rows) <= max_broadcast_queries:
        return _ann_lsh_topk_broadcast(
            q_rows, vectors, id_col, vec_col, k, num_planes, num_tables,
            id_type=dict(queries.dtypes)[id_col],
        )
    return _ann_lsh_topk_shuffle(
        queries, vectors, id_col, vec_col, k, num_planes, num_tables
    )


def _ann_lsh_topk_broadcast(
    q_rows,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    num_planes: int,
    num_tables: int,
    id_type: str,
    seed: int = 0,
) -> DataFrame:
    """Broadcast-probe-map LSH top-k (see :func:`ann_lsh_topk`)."""
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    nq, dim = q_mat.shape
    planes = _hyperplanes(num_planes, num_tables, dim, seed)
    sigs = _signatures(q_mat, planes, num_planes, num_tables)  # (nq, T)
    probe_sigs = [sigs] + [sigs ^ (1 << h) for h in range(num_planes)]
    probe_arr = np.stack(probe_sigs, axis=2)  # (nq, T, n_probe)
    # Per-table bucket -> sorted array of probing query indices. Total
    # size is nq * T * n_probe int32 entries — bounded by the query
    # collect guard, independent of 2^num_planes.
    tables: list[dict[int, np.ndarray]] = []
    for t in range(num_tables):
        flat = probe_arr[:, t, :]  # (nq, n_probe)
        qidx = np.repeat(np.arange(nq, dtype=np.int32), flat.shape[1])
        buckets = flat.ravel()
        order = np.argsort(buckets, kind="stable")
        b_sorted, q_sorted = buckets[order], qidx[order]
        starts = np.flatnonzero(np.r_[True, b_sorted[1:] != b_sorted[:-1]])
        bounds = np.r_[starts, len(b_sorted)]
        tables.append(
            {
                int(b_sorted[s]): np.unique(q_sorted[s:e])
                for s, e in zip(bounds[:-1], bounds[1:])
            }
        )
    q_norm = q_mat / np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-300)
    bc = vectors.sparkSession.sparkContext.broadcast((q_ids, q_norm, tables))

    out_schema = f"query_id {id_type}, neighbor_id {dict(vectors.dtypes)[id_col]}, cosine double"

    def score(batches):
        ids, qn, tbls = bc.value
        n_q = len(ids)
        for pdf in batches:
            v = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            vsig = _signatures(v, planes, num_planes, num_tables)  # (B, T)
            vn = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-300)
            n_ids = pdf[id_col].to_numpy()
            B = len(v)
            cand: list[np.ndarray] = []
            total = 0
            for i in range(B):
                hits = [
                    got
                    for t in range(num_tables)
                    if (got := tbls[t].get(int(vsig[i, t]))) is not None
                ]
                idx = (
                    np.unique(np.concatenate(hits))
                    if hits
                    else np.empty(0, dtype=np.int32)
                )
                cand.append(idx)
                total += idx.size
            if total == 0:
                continue
            if total > 0.25 * B * n_q:
                # dense: one GEMM, mask non-candidates/self, then the
                # vectorized per-batch top-k (one frame per batch)
                sims = qn @ vn.T  # (nq, B)
                allowed = np.zeros((n_q, B), dtype=bool)
                for i, idx in enumerate(cand):
                    allowed[idx, i] = True
                allowed &= ids[:, None] != n_ids[None, :]
                out = _batch_topk_frame(ids, sims, n_ids, k, disallowed=~allowed)
                if out is not None:
                    yield out
            else:
                # sparse: gather candidate pairs, einsum, grouped top-k
                bi = np.repeat(np.arange(B), [c.size for c in cand])
                qi = np.concatenate(cand)
                keep = ids[qi] != n_ids[bi]
                bi, qi = bi[keep], qi[keep]
                if bi.size == 0:
                    continue
                sims = np.einsum("ij,ij->i", qn[qi], vn[bi])
                order = np.lexsort((n_ids[bi], -sims, qi))
                qs = qi[order]
                starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
                bounds = np.r_[starts, len(qs)]
                take = np.concatenate(
                    [order[s : min(s + k, e)] for s, e in zip(bounds[:-1], bounds[1:])]
                )
                yield pd.DataFrame(
                    {
                        "query_id": ids[qi[take]],
                        "neighbor_id": n_ids[bi[take]],
                        "cosine": sims[take],
                    }
                )

    # r14: widen a single-partition corpus scan before the hash+score
    # pass (work-gated — see cosine_topk_blas, serial otherwise).
    corpus = _widen_for_work(vectors.select(id_col, vec_col), len(q_rows))
    partial = corpus.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return partial.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _ann_lsh_topk_shuffle(
    queries: DataFrame,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    num_planes: int,
    num_tables: int,
) -> DataFrame:
    """Symmetric shuffle LSH top-k (see :func:`ann_lsh_topk`): both
    sides explode onto (tbl, bucket); candidate generation is one
    equi-join shuffle on the derived key."""
    bucketer = table_buckets_udf(num_planes, num_tables)
    # Candidate generation runs over IDS ONLY: a pair can meet in many
    # (table, probe) combinations, so the bucket join's fan-out must
    # not replicate embedding payloads — the join and the duplicate
    # collapse shuffle (query_id, neighbor_id) rows, and each
    # surviving pair fetches its two vectors exactly once via
    # equi-joins before rescoring. At volume the shuffle/Arrow bytes
    # dominate, not the rescoring FLOPs.
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(bucketer(F.col(vec_col))).alias("tbl", "bucket"),
    )
    # Probe the exact bucket plus every Hamming-1 neighbor bucket.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(bucketer(F.col(vec_col))).alias("tbl", "__sig"),
    ).select(
        "query_id",
        "tbl",
        F.explode(
            F.expr(
                f"array_union(array(__sig), transform(sequence(0, {num_planes - 1}), "
                f"h -> __sig ^ shiftleft(1L, h)))"
            )
        ).alias("bucket"),
    )
    candidates = (
        q.join(v, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    vv = vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vv"))
    cos = cosine_pairs_udf()
    scored = (
        candidates.join(qv, "query_id")
        .join(vv, "neighbor_id")
        .select("query_id", "neighbor_id", cos(F.col("__qv"), F.col("__vv")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def quantize_int8(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization: scale =
    max(|v_i|)/127, q_i = round(v_i/scale) — the memory/IO layout trick
    of production vector stores (FAISS SQ8): the stored corpus shrinks
    4× vs float32 (8× vs float64), and candidate scoring reads a
    quarter of the bytes. Dequantized ``q_i*scale`` reconstructs each
    component to within scale/2, so approximate cosines land within
    ~dim·(scale/2) of exact — rerank the shortlist with the ORIGINAL
    floats (``ann_quantized_topk``) to erase the error.

    One numpy pass per Arrow batch (pandas_udf discipline — per-component
    higher-order exprs evaluate interpreted). Returns (id, __q
    array<tinyint>, __scale double). Zero vectors get scale 0 and an
    all-zero code.
    """
    fields = f"__q array<tinyint>, __scale double"

    @F.pandas_udf(fields)
    def quant(v: pd.Series) -> pd.DataFrame:
        mat = np.vstack(v.to_numpy()).astype(np.float64)
        scale = np.abs(mat).max(axis=1) / 127.0
        safe = np.where(scale == 0.0, 1.0, scale)
        q = np.clip(np.round(mat / safe[:, None]), -127, 127).astype(np.int8)
        return pd.DataFrame({"__q": list(q), "__scale": scale})

    return vectors.select(
        F.col(id_col), quant(F.col(vec_col).cast("array<double>")).alias("__sq")
    ).select(id_col, F.col("__sq.__q").alias("__q"), F.col("__sq.__scale").alias("__scale"))


def ann_quantized_topk(
    queries: DataFrame,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    rerank_factor: int = 4,
    max_queries: int = 100_000,
    exact_rerank: bool = False,
    quantized: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k over the INT8-quantized corpus with exact
    float rerank — the two-stage shape every production vector search
    runs at memory-bound scale: stage 1 streams the 4×-smaller
    quantized representation (``quantize_int8``) against the broadcast
    query matrix and keeps a ``rerank_factor * k`` shortlist per query;
    stage 2 fetches ONLY the shortlist's original float vectors (an
    equi-join on id, ~rerank_factor·k·q rows — never the corpus) and
    ranks by exact cosine. Quantization error can only demote a true
    neighbor out of the shortlist, never corrupt a returned score.

    ``exact_rerank=True`` unions the shortlist with the brute-force
    top-k pairs before the exact rank (same verification mode as
    :func:`ann_ivf_topk`): output then EQUALS brute force, making the
    operator hash-attestable against the exact SQL oracle while still
    exercising the quantize→shortlist→rerank chain. Recall of the
    pure shortlist is pinned separately in tests/test_vector.py.

    Scale posture — WHEN THIS PAYS, measured honestly (SCALE.md §SQ8):
    the win is reading a PERSISTED int8 table (pass it via
    ``quantized``: write ``quantize_int8``'s output once, scan it
    daily). Deriving the codes in the same job (``quantized=None``,
    the default and the verification path) costs an extra Arrow
    pass and is SLOWER than scoring floats directly — measured 35 s
    vs 6-16 s at 500k×64 on one box — so in-job derivation is for
    correctness testing, never the hot path. On persisted tables the
    byte win tracks the data's compressibility: raw-float embeddings
    shrink ~4×; dictionary-encodable synthetic fixtures barely shrink
    at all (measured 47 → 35 MB), where int8 and float32 scan+score
    in the same ~0.7 s. Candidate generation is one mapInPandas pass,
    no shuffle; the only shuffles are the shortlist's id-joins and the
    final per-query rank. Same output contract as :func:`cosine_topk`.
    """
    q_rows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    if len(q_rows) > max_queries:
        raise ValueError(f"{len(q_rows)} queries exceed max_queries={max_queries}")
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_mat /= np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-300)
    sc = queries.sparkSession.sparkContext
    bc = sc.broadcast((q_ids, q_mat))

    shortlist_n = rerank_factor * k
    cand_schema = (
        f"query_id {dict(queries.dtypes)[id_col]}, "
        f"neighbor_id {dict(vectors.dtypes)[id_col]}"
    )

    def shortlist(batches):
        ids, mat = bc.value
        for pdf in batches:
            q = np.vstack(pdf["__q"].to_numpy()).astype(np.float64)
            scale = pdf["__scale"].to_numpy()
            deq = q * scale[:, None]  # dequantized corpus batch
            norms = np.maximum(np.linalg.norm(deq, axis=1), 1e-300)
            sims = mat @ (deq / norms[:, None]).T  # approx cosine
            n_ids = pdf[id_col].to_numpy()
            out = _batch_topk_frame(
                ids,
                sims,
                n_ids,
                shortlist_n,
                disallowed=n_ids[None, :] == ids[:, None],
                with_cosine=False,
            )
            if out is not None:
                yield out

    if quantized is None:
        quantized = quantize_int8(vectors, id_col=id_col, vec_col=vec_col)
    # r14: widen a single-partition quantized corpus before the
    # shortlist pass (work-gated — see cosine_topk_blas, serial
    # otherwise).
    candidates = _widen_for_work(quantized, len(q_rows)).mapInPandas(
        shortlist, schema=cand_schema
    )
    if exact_rerank:
        exact_pairs = cosine_topk_blas(
            queries, vectors, id_col=id_col, vec_col=vec_col, k=k
        ).select("query_id", "neighbor_id")
        candidates = candidates.unionByName(exact_pairs).distinct()
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    vv = vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vv"))
    cos = cosine_pairs_udf()
    scored = (
        candidates.join(qv, "query_id")
        .join(vv, "neighbor_id")
        .select("query_id", "neighbor_id", cos(F.col("__qv"), F.col("__vv")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ann_ivf_topk(
    queries: DataFrame,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    debug: dict | None = None,
    exact_rerank: bool = False,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) coarse quantization.

    ``exact_rerank=True`` unions the probed candidates with the
    brute-force top-k pairs (one extra :func:`cosine_topk_blas` pass
    over the corpus) before the final exact-cosine rank — the output
    then EQUALS brute force (any probed candidate outside the true
    top-k ranks below it), which makes the operator hash-attestable
    against the exact SQL oracle at fixture scale while still
    exercising every IVF leg (quantizer fit, list assignment, probe
    join). It costs one full GEMM scan, so it is a verification mode
    for corpora under the broadcast ceiling, NOT the 100 TB path —
    there, recall is the contract (pinned in tests/test_vector.py).

    ``debug`` (optional dict) receives the intermediate ``assigned``
    (neighbor_id, list_id) and ``probes`` (query_id, list_id)
    DataFrames so tests can replay the candidates-scored contract:
    every returned neighbor lies in a probed list AND each query's
    result is exactly the top-k of its probed-list union
    (tests/test_vector.py::test_ivf_candidates_scored_contract).

    An MLlib KMeans (cosine distance) partitions the corpus into
    ``n_lists`` inverted lists; each query scores only the lists of its
    ``n_probe`` nearest centroids. Expected work per query drops from
    O(n) to ~O(n * n_probe / n_lists).

    Scale posture: the quantizer fit is one distributed MLlib job whose
    model is tiny (n_lists x dim floats); list assignment is a
    per-row model transform (no shuffle); the probe join is an
    equi-join on list_id, so candidate generation is one shuffle keyed
    by list — the same join-on-derived-key discipline as the LSH path.
    List skew (hot centroids) is AQE's skew-join case. Deterministic
    given ``seed``. Recall measured against :func:`cosine_topk` in
    tests/test_vector.py.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corpus = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__feat"),
    )
    km = KMeans(
        k=n_lists,
        seed=seed,
        featuresCol="__feat",
        predictionCol="list_id",
        distanceMeasure="cosine",
        # coarse quantizer: recall depends on n_probe/n_lists, not on a
        # fully-converged codebook — cap driver-side iteration cost
        maxIter=10,
        tol=1e-3,
    )
    model = km.fit(corpus.select("__feat"))
    assigned = model.transform(corpus).select("neighbor_id", "list_id")

    # Centroid table is n_lists rows -> broadcast; each query ranks all
    # centroids with the codegen'd cosine and keeps its n_probe best.
    spark = vectors.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "list_id int, __cv array<double>",
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("__csim").desc(), F.col("list_id"))
    probes = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
        .crossJoin(F.broadcast(centroids))
        .select("query_id", "__qv", "list_id", cosine_similarity("__qv", "__cv").alias("__csim"))
        .withColumn("__pr", F.row_number().over(wq))
        .filter(F.col("__pr") <= n_probe)
        .select("query_id", "list_id")
    )
    if debug is not None:
        debug["assigned"] = assigned
        debug["probes"] = probes
    # The probe join fans each query out to every row of its n_probe
    # lists — ids only through that join; each candidate pair fetches
    # its two vectors once via equi-joins before rescoring (same
    # payload discipline as ann_lsh_topk). No duplicate collapse
    # needed: a vector lives in exactly one inverted list, so a
    # (query, neighbor) pair arises at most once.
    candidates = (
        probes.join(assigned.select("neighbor_id", "list_id"), "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    if exact_rerank:
        # Union with the true top-k pair set and dedupe: the final
        # exact-cosine rank below then returns exactly the brute-force
        # answer. distinct() is required — a probed candidate that IS a
        # true neighbor would otherwise appear twice and double-count
        # in row_number().
        exact_pairs = cosine_topk_blas(
            queries, vectors, id_col=id_col, vec_col=vec_col, k=k
        ).select("query_id", "neighbor_id")
        candidates = candidates.unionByName(exact_pairs).distinct()
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    vv = vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vv"))
    cos = cosine_pairs_udf()
    scored = (
        candidates.join(qv, "query_id")
        .join(vv, "neighbor_id")
        .select("query_id", "neighbor_id", cos(F.col("__qv"), F.col("__vv")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
