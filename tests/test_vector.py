"""Vector similarity-search tests: closed-form cosine values, exact
top-k ordering, and ANN recall against the brute-force baseline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anti_money_laundering_spark.sources import load_table
from anti_money_laundering_spark.vector import (
    LSH_BROADCAST_MAX_QUERIES,
    ann_ivf_topk,
    ann_lsh_topk,
    cosine_similarity,
    cosine_topk,
    cosine_topk_blas,
)


def test_cosine_closed_form(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0]), ([1.0, 0.0], [-1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    vals = [r.c for r in df.select(cosine_similarity("a", "b").alias("c")).collect()]
    assert vals[0] == pytest.approx(0.0)
    assert vals[1] == pytest.approx(1.0)
    assert vals[2] == pytest.approx(-1.0)


def test_cosine_topk_ordering(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),   # closest to 1
            (3, [0.5, 0.5]),
            (4, [-1.0, 0.0]),  # farthest
        ],
        "vec_id long, embedding array<double>",
    )
    out = cosine_topk(vecs.filter(F.col("vec_id") == 1), vecs, k=3).collect()
    order = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert order == [2, 3, 4]
    assert all(r.query_id == 1 for r in out)


def test_cosine_topk_defaults_to_blas_no_eager_job(spark, sf_dir):
    """r4 verdict fix: cosine_topk's default is the GEMM path — pure
    plan construction (the old size guard ran an eager count of the
    corpus lineage at plan time), no quadratic theta-join in user
    hands; the naive formulation survives only behind
    assume_small=True as the test oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0).limit(5)
    expected = {(r.query_id, r.neighbor_id, r.rank)
                for r in cosine_topk_blas(queries, emb, k=3).collect()}
    routed = cosine_topk(queries, emb, k=3)
    # NB the query matrix IS collected eagerly inside cosine_topk_blas
    # (broadcast contract) — the fix removed the eager count over the
    # CORPUS, whose lineage is the expensive side. Assert the plan has
    # no nested-loop shape and results match.
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert {(r.query_id, r.neighbor_id, r.rank) for r in routed.collect()} == expected


def test_blas_matches_expression_path(spark, sf_dir):
    """The GEMM implementation must reproduce the expression-based
    baseline exactly (same pairs, same ranks, cosine to 1e-9)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0).limit(10)
    a = {(r.query_id, r.neighbor_id): (r.rank, r.cosine)
         for r in cosine_topk(queries, emb, k=5, assume_small=True).collect()}
    b = {(r.query_id, r.neighbor_id): (r.rank, r.cosine)
         for r in cosine_topk_blas(queries, emb, k=5).collect()}
    assert set(a) == set(b)
    for key, (rank, cos) in a.items():
        assert b[key][0] == rank
        assert b[key][1] == pytest.approx(cos, abs=1e-9)


def test_lsh_topk_equals_bruteforce(spark, sf_dir):
    """The LSH pipeline's OUTPUT must EQUAL the brute-force top-k on
    the fixtures (every label-0 query, the catalog query's exact
    shape): the candidate union contains every true neighbor (recall
    1.0 at 4 planes x 16 tables, multi-probe) and exact-cosine ranking
    makes precision 1 by construction — the invariant the
    ann_lsh_topk DuckDB oracle (exact top-k SQL) relies on. Run at
    every SF the driver can (SKILL.md pre-driver checklist); if
    fixture drift ever slips a borderline neighbor past the buckets,
    this fails locally before the driver's correctness gate does.
    Both physical shapes run: the broadcast probe map (the default at
    this query count) and the symmetric shuffle (forced by
    ``max_broadcast_queries=0``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0)
    exact = {(r.query_id, r.neighbor_id, r.rank)
             for r in cosine_topk_blas(queries, emb, k=5).collect()}
    for max_broadcast in (LSH_BROADCAST_MAX_QUERIES, 0):
        approx = {(r.query_id, r.neighbor_id, r.rank)
                  for r in ann_lsh_topk(queries, emb, k=5,
                                        max_broadcast_queries=max_broadcast).collect()}
        assert approx == exact, max_broadcast


def test_ivf_recall_against_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    # orderBy before limit: a bare limit() is plan-nondeterministic, so
    # exact and approx could otherwise score different query sets
    queries = emb.filter(F.col("label") == 0).orderBy("vec_id").limit(20)
    exact = cosine_topk(queries, emb, k=5, assume_small=True)
    approx = ann_ivf_topk(queries, emb, k=5, n_lists=16, n_probe=6)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(a & e) / len(e)
    # probing 6/16 cosine-KMeans lists; the fixture embeddings are
    # near-random (weak cluster structure), the IVF worst case — recall
    # measured 0.87 at sf0.001 / 0.76 at sf0.01, and rises with n_probe
    # exactly as the n_probe/n_lists work-recall tradeoff predicts
    assert recall >= 0.7, f"IVF recall too low: {recall}"
    # every returned pair must be a real corpus pair with correct rank ordering
    for r in approx.collect():
        assert r.rank <= 5 and r.query_id != r.neighbor_id


def test_ivf_candidates_scored_contract(spark, sf_dir):
    """Stronger than a recall floor (which a broken probe join can pass
    by luck): replay the candidates-scored contract from the fitted
    quantizer's own assignments. (1) every returned neighbor's list is
    one of its query's probed lists; (2) each query's result is EXACTLY
    the top-k of its probed-list union under (cosine desc, neighbor_id)
    — a probe-join bug (wrong key, dropped list, duplicated pair) fails
    here even when aggregate recall stays plausible."""
    from anti_money_laundering_spark.vector import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0).orderBy("vec_id").limit(20)
    dbg: dict = {}
    approx = ann_ivf_topk(queries, emb, k=5, n_lists=16, n_probe=4, debug=dbg)
    got = [(r.query_id, r.neighbor_id, r.rank) for r in approx.collect()]

    assigned = {r.neighbor_id: r.list_id for r in dbg["assigned"].collect()}
    probes: dict = {}
    for r in dbg["probes"].collect():
        probes.setdefault(r.query_id, set()).add(r.list_id)

    # (1) membership: returned neighbors come only from probed lists
    for qid, nid, _ in got:
        assert assigned[nid] in probes[qid], (qid, nid)

    # (2) exactness: replay top-k over the probed-list union with the
    # engine's own cosine expression, then compare (qid, nid, rank) sets
    cand = (
        dbg["probes"]
        .join(dbg["assigned"], "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    qv = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"))
    vv = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__vv"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    expected = [
        (r.query_id, r.neighbor_id, r.rank)
        for r in cand.join(qv, "query_id")
        .join(vv, "neighbor_id")
        .select("query_id", "neighbor_id", cosine_similarity("__qv", "__vv").alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .collect()
    ]
    assert sorted(got) == sorted(expected)


def test_ivf_exact_rerank_equals_bruteforce(spark, sf_dir):
    """exact_rerank mode: the probed-candidate set unioned with the
    brute-force pair set, exact-ranked, must EQUAL brute force — the
    invariant the ann_ivf_topk DuckDB oracle relies on (same contract
    pattern as test_lsh_topk_equals_bruteforce; run at every SF before
    the driver)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0)
    exact = {(r.query_id, r.neighbor_id, r.rank)
             for r in cosine_topk_blas(queries, emb, k=5).collect()}
    reranked = {(r.query_id, r.neighbor_id, r.rank)
                for r in ann_ivf_topk(
                    queries, emb, k=5, n_lists=16, n_probe=4, exact_rerank=True
                ).collect()}
    assert reranked == exact


def test_quantize_int8_reconstruction_error_bounded(spark, sf_dir):
    """Symmetric int8 quantization: every dequantized component must sit
    within scale/2 of the original, and scale = max|v|/127 exactly."""
    import numpy as np

    from anti_money_laundering_spark.vector import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    orig = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    for r in quantize_int8(emb).collect():
        v = orig[r.vec_id]
        scale = np.abs(v).max() / 127.0
        assert abs(r["__scale"] - scale) < 1e-12
        deq = np.array(r["__q"], dtype=np.float64) * r["__scale"]
        assert np.all(np.abs(deq - v) <= max(scale / 2, 1e-12) + 1e-12)


def test_quantized_shortlist_recall(spark, sf_dir):
    """The pure int8 shortlist (no exact union) must recover >= 95% of
    the true top-5 pairs at fixture scale — the recall contract the
    100 TB path rides on (rerank can only fix what the shortlist
    keeps)."""
    from anti_money_laundering_spark.vector import ann_quantized_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0)
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk_blas(queries, emb, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in ann_quantized_topk(queries, emb, k=5, rerank_factor=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.95, recall


def test_quantized_exact_rerank_equals_bruteforce(spark, sf_dir):
    """exact_rerank mode: shortlist ∪ brute-force pairs, exact-ranked,
    must EQUAL brute force — the invariant the ann_quantized_topk
    DuckDB oracle relies on (same contract as the IVF/LSH pins; run at
    every SF before the driver)."""
    from anti_money_laundering_spark.vector import ann_quantized_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0)
    exact = {(r.query_id, r.neighbor_id, r.rank)
             for r in cosine_topk_blas(queries, emb, k=5).collect()}
    reranked = {(r.query_id, r.neighbor_id, r.rank)
                for r in ann_quantized_topk(
                    queries, emb, k=5, rerank_factor=4, exact_rerank=True
                ).collect()}
    assert reranked == exact


def test_quantized_topk_accepts_persisted_codes(spark, sf_dir, tmp_path):
    """The deployment shape: quantize once, persist, search from the
    int8 table — results must equal the in-job-derivation path."""
    from anti_money_laundering_spark.vector import ann_quantized_topk, quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0)
    path = str(tmp_path / "codes")
    quantize_int8(emb).write.parquet(path)
    persisted = spark.read.parquet(path)
    a = {(r.query_id, r.neighbor_id, r.rank)
         for r in ann_quantized_topk(queries, emb, k=5, quantized=persisted).collect()}
    b = {(r.query_id, r.neighbor_id, r.rank)
         for r in ann_quantized_topk(queries, emb, k=5).collect()}
    assert a == b
