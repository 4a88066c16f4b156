"""r16 optimization-round pins:

1. HITS driver-paced loop (broadcast regime) is value-identical to the
   distributed half-iteration chain — the same regime-invariance
   discipline as the CC/star engines (`test_r15_opt3.py`).
2. `_shift_slots` (the union+groupBy prefix attach that replaced the
   per-round shifted LEFT joins) equals the join formulation row for
   row, fills included.
3. The HITS agg layouts are unpersisted after a driver-paced run
   (VERDICT r15 item 3: two InMemoryRelations leaked per invocation).
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _hits_scores(spark, edges, bcast):
    from near_public_lakehouse_spark.queries.graph import _hits_rounds

    auth = edges.select(F.col("supp").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("score")
    )
    hub, auth_out = _hits_rounds(edges, edges, auth, bcast, bcast, iters=3)
    return (
        sorted((r.node, r.score) for r in hub.collect()),
        sorted((r.node, r.score) for r in auth_out.collect()),
    )


def test_hits_driver_loop_matches_distributed(spark):
    edges = spark.createDataFrame(
        [
            (1, 10, 2.0),
            (1, 11, 1.0),
            (2, 10, 3.0),
            (3, 12, 1.0),
            (4, 12, 5.0),
            (4, 13, 1.0),
        ],
        "cust bigint, supp bigint, w double",
    ).localCheckpoint()
    driver = _hits_scores(spark, edges, True)
    distributed = _hits_scores(spark, edges, False)
    assert driver == distributed
    # scores normalized: every half's max is exactly 1.0
    assert max(s for _, s in driver[0]) == 1.0
    assert max(s for _, s in driver[1]) == 1.0


def test_hits_registry_query_unpersists_layouts(spark):
    from near_public_lakehouse_spark.queries import all_queries

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    df = all_queries()["link_analysis_hits"].fn(spark, SF_DIR)
    assert df.count() > 0
    # driver-paced run: both agg layouts released before fn() returned.
    # The one allowed residue is the query's own edges localCheckpoint
    # (localCheckpoint registers in persistentRDDs until the
    # ContextCleaner collects it); pre-fix this grew by 3 — the
    # checkpoint plus TWO leaked layout InMemoryRelations.
    assert jsc.getPersistentRDDs().size() <= before + 1


def test_graph_queries_regime_invariant_under_merge_layout(spark):
    """Force the merge regime (broadcast threshold -1) on the full
    registry queries so the r16 `_merge_layout` path — pre-partitioned +
    sorted cached edge frames feeding every round's SMJ — is exercised
    end to end and produces the exact broadcast-regime rows."""
    from near_public_lakehouse_spark.queries import all_queries

    qs = all_queries()
    names = ["graph_pagerank", "graph_bfs_hops", "link_analysis_hits"]
    want = {n: qs[n].fn(spark, SF_DIR).collect() for n in names}
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for n in names:
            assert qs[n].fn(spark, SF_DIR).collect() == want[n], n
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_merge_regime_graph_queries_release_cached_layouts(spark):
    """Under a forced merge regime, BFS and HITS materialize their final
    state and then drop every `_merge_layout`/`_agg_layout` they cached:
    once the result is collected the session's CacheManager holds nothing
    (the lazy rounds used to keep the layouts cached after the query)."""
    from near_public_lakehouse_spark.queries import all_queries

    qs = all_queries()
    cache = spark._jsparkSession.sharedState().cacheManager()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.catalog.clearCache()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for n in ["graph_bfs_hops", "link_analysis_hits"]:
            assert qs[n].fn(spark, SF_DIR).collect(), n
            assert cache.isEmpty(), n
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.catalog.clearCache()


def test_merge_layout_round_plan_has_no_edge_exchange_or_sort(spark):
    """The point of `_merge_layout`: a merge-regime round's SMJ must NOT
    re-exchange or re-sort the cached edge side — the only Exchange on
    the edge path is the one inside the cached layout itself; per-round
    the state side carries the shuffle+sort."""
    from near_public_lakehouse_spark.queries.graph import (
        _merge_layout,
        _pr_round,
    )

    contrib = spark.createDataFrame(
        [(1, 2, 0.5), (2, 1, 0.5), (2, 3, 0.5), (3, 2, 1.0), (1, 3, 0.5)],
        "src bigint, dst bigint, wd double",
    ).localCheckpoint()
    lay = _merge_layout(contrib, "src", 5)
    try:
        lay.count()  # materialize the cache, as the real callers do
        rank = spark.createDataFrame(
            [(1, 0.3), (2, 0.3), (3, 0.4)], "node bigint, rank double"
        ).localCheckpoint()
        rnd = _pr_round(lay, rank, 3.0, broadcast_state=False)
        # With the cache MATERIALIZED (the callers' state — count above),
        # its inner AdaptiveSparkPlan is final, so the InMemoryRelation
        # reports the layout's partitioning+ordering and EnsureRequirements
        # plans the round with NO edge-side Exchange/Sort. (Unmaterialized,
        # AQE prints a planned ENSURE_REQUIREMENTS exchange regardless —
        # the r15 `_agg_layout` lesson; runtime A/B on a 2M-edge frame:
        # round shuffle write 42.8 -> 21.6 MB.)
        plan = rnd._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        im = plan.index("InMemoryTableScan")
        smj = plan.index("SortMergeJoin")
        edge_path = plan[smj:im]
        assert "Exchange" not in edge_path and "Sort " not in edge_path, plan
    finally:
        lay.unpersist()


def test_shift_slots_equals_join_formulation(spark):
    from near_public_lakehouse_spark.queries.suffix import _shift_slots

    ranks = spark.createDataFrame(
        [(g, r) for g, r in [(1, 3), (2, 1), (3, 3), (4, 2), (5, 1), (7, 4)]],
        "gpos bigint, rank bigint",
    )
    offset, mult = 2, 3
    got = {
        (r.gpos): (r.s0, r.s1, r.s2)
        for r in _shift_slots(ranks, "rank", offset, mult, 0).collect()
    }
    # reference: (mult-1) shifted left joins with coalesce(0) — the old
    # doubling shape generalized
    ref = ranks
    for i in range(1, mult):
        nxt = ranks.select(
            (F.col("gpos") - i * offset).alias("gpos"),
            F.col("rank").alias(f"r{i}"),
        )
        ref = ref.join(nxt, "gpos", "left")
    want = {
        r.gpos: (r.rank, r.r1 or 0, r.r2 or 0) for r in ref.collect()
    }
    assert got == want and len(got) == 6
