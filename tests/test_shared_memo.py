"""Session-memo hygiene for the shared LSH/pair tables
(plans/llm_queries.py) and the linkage gamma table + EM fit
(plans/linkage_queries.py): keys are (applicationId, sf_dir) — unique per
SparkContext, unlike a recycled id(spark) address — and every lookup
evicts entries from other (dead) applications, so a fresh context can
never be served DataFrames bound to a stopped one."""

from __future__ import annotations

from anti_money_laundering_spark.plans import llm_queries as lq


def test_lookup_evicts_dead_app_entries(spark, sf_dir):
    # Plant stale entries under an applicationId that is not this
    # context's — exactly what a stopped-and-replaced session leaves
    # behind (under id(spark) keying a recycled address could ALIAS the
    # live key; applicationId keys cannot collide across contexts).
    from anti_money_laundering_spark.plans import linkage_queries

    sentinel = object()
    lq._LSH_SHARED[("application_dead_123", sf_dir)] = sentinel
    lq._PAIRS_SHARED[("application_dead_123", sf_dir)] = sentinel

    pairs = lq._shared_verified_pairs(spark, sf_dir)

    live = lq._app_id(spark)
    assert all(k[0] == live for k in lq._LSH_SHARED)
    assert all(k[0] == live for k in lq._PAIRS_SHARED)
    # and the live entry is the one returned (memo hit on second call)
    assert lq._shared_verified_pairs(spark, sf_dir) is pairs
    assert pairs is not sentinel

    # the linkage family's memo is evicted by its own lookup too
    linkage_queries._EM_SHARED[("application_dead_123", sf_dir)] = sentinel
    em = linkage_queries._shared_em(spark, sf_dir)
    assert all(k[0] == live for k in linkage_queries._EM_SHARED)
    assert linkage_queries._shared_em(spark, sf_dir) is em
    assert em is not sentinel


def test_app_id_is_context_scoped(spark):
    # newSession() shares the context -> same memo namespace (the
    # checkpointed tables ARE valid across sibling sessions); only a
    # context restart changes the key.
    assert lq._app_id(spark.newSession()) == lq._app_id(spark)


def test_load_table_memo_is_session_scoped(spark, sf_dir):
    """Temp-view catalogs are per-SESSION: a sibling session must get
    its own scan DataFrame, not the parent's memoized one — otherwise
    createOrReplaceTempView registers in the PARENT's catalog and the
    sibling's spark.sql fails with TABLE_OR_VIEW_NOT_FOUND (ADVICE r3).
    """
    from anti_money_laundering_spark.sources import load_table

    parent_df = load_table(spark, sf_dir, "nation")
    sib = spark.newSession()
    sib_df = load_table(sib, sf_dir, "nation")
    assert sib_df is not parent_df
    # memo still hits within each session
    assert load_table(sib, sf_dir, "nation") is sib_df
    # and views registered through the sibling's df resolve in its SQL
    sib_df.createOrReplaceTempView("__memo_sib_check")
    assert sib.sql("SELECT count(*) c FROM __memo_sib_check").collect()[0]["c"] > 0
    sib.catalog.dropTempView("__memo_sib_check")


def test_clear_shared_memos_evicts_every_family(spark, sf_dir):
    from anti_money_laundering_spark.plans import linkage_queries
    from anti_money_laundering_spark.plans.catalog import get_catalog

    get_catalog()["linkage_entity_clusters"].fn(spark, sf_dir).count()
    lq._shared_verified_pairs(spark, sf_dir)
    families = {
        "lsh": lq._LSH_SHARED,
        "verified_pairs": lq._PAIRS_SHARED,
        "tfidf_weights": lq._TFIDF_W_SHARED,
        "linkage_em": linkage_queries._EM_SHARED,
    }
    assert families["linkage_em"] and families["verified_pairs"]

    lq.clear_shared_memos()

    assert {name: len(memo) for name, memo in families.items()} == dict.fromkeys(families, 0)
