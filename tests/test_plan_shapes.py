"""Plan-shape regression tests: the scale disciplines (pushdown, pruning,
broadcast, bucketed exchange-free joins) asserted on the physical plan, so
a refactor that silently loses them fails CI — not just the benchmark."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_scan(spark):
    from near_public_lakehouse_spark.queries import all_queries

    plan = _formatted(all_queries()["pricing_summary"].fn(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark):
    from near_public_lakehouse_spark.queries import all_queries

    plan = _formatted(all_queries()["pricing_summary"].fn(spark, SF_DIR))
    # 7 of lineitem's 16 columns read; the wide ones (comment) never appear
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in scan_schema and "l_shipdate" in scan_schema


def test_dimension_joins_broadcast(spark):
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["regional_supplier_revenue"].fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") == 5  # all five dims broadcast
    assert "SortMergeJoin" not in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from near_public_lakehouse_spark.operators.bucketing import (
        bucketed_join,
        write_bucketed,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    write_bucketed(orders, "b_orders", ["o_custkey"], n_buckets=8)
    write_bucketed(cust, "b_customer", ["o_custkey"], n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # Disable auto-broadcast: at real scale neither side fits in memory —
        # that's exactly when bucketing pays. (With broadcast on, the planner
        # rightly skips the bucketed path for this small fixture.)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = bucketed_join(spark, "b_orders", "b_customer", ["o_custkey"])
        plan = _plan(j)
        assert "Exchange" not in plan, plan  # co-located: no shuffle at all
        assert "SortMergeJoin" in plan
        # and it still computes the right thing
        expected = orders.join(cust, "o_custkey").count()
        assert j.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_unbucketed_same_join_shuffles(spark):
    """Contrast case: the identical join over plain parquet must shuffle
    (or broadcast) — documents what bucketing saves."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = (
        spark.read.parquet(f"{SF_DIR}/customer.parquet")
        .withColumnRenamed("c_custkey", "o_custkey")
        .hint("shuffle_merge")
    )
    plan = _plan(orders.join(cust, "o_custkey"))
    assert "Exchange" in plan


def test_semi_anti_joins_plan_one_sided(spark):
    """EXISTS/NOT EXISTS must plan as LeftSemi/LeftAnti (no right payload,
    no distinct), not inner-join + dedup."""
    from near_public_lakehouse_spark.queries import all_queries

    semi = _plan(all_queries()["returned_orders_semi"].fn(spark, SF_DIR))
    assert "LeftSemi" in semi and "Distinct" not in semi
    anti = _plan(all_queries()["idle_rich_customers"].fn(spark, SF_DIR))
    assert "LeftAnti" in anti


def test_disjunctive_join_derives_pushed_filters(spark):
    """Q19 shape: the OR-of-conjunctions stays a join residual while the
    derived per-side predicates reach the scans (brand/size on part,
    quantity on lineitem)."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _formatted(all_queries()["disjunctive_predicate_revenue"].fn(spark, SF_DIR))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_brand" in l for l in pushed), pushed
    assert any("l_quantity" in l for l in pushed), pushed


def test_correlated_subquery_reuses_exchange(spark):
    """Q17 shape: the per-part aggregate and the join back to lineitem hash
    on the same key — the plan must not contain more than the two scans'
    worth of shuffle for lineitem (no third exchange from a key change)."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["small_quantity_revenue"].fn(spark, SF_DIR))
    # both lineitem branches exchange on hashpartitioning(l_partkey-ish key)
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    keys = {l.split("hashpartitioning(")[1].split("#")[0] for l in exchanges}
    assert keys <= {"l_partkey", "pk"}, exchanges


def test_runtime_bloom_filter_injects_on_fact_scan(spark):
    """Runtime bloom-filter pruning (Q21/Q17 discipline at scale): a
    selective dim filter must seed a bloom filter applied to the fact side
    BEFORE its shuffle. The rule's application-side threshold is 10 GiB —
    right for a 100 TB cluster, never met at sf0.001 — so the test lowers
    the thresholds to prove the rule fires on our join shape, then
    restores them."""
    lowered = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    prev = {k: spark.conf.get(k) for k in lowered}
    try:
        for k, v in lowered.items():
            spark.conf.set(k, v)
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"  # selective creation side
        )
        lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        j = lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        # dim side builds bloom_filter_agg; fact scan gains might_contain
        assert "bloom_filter_agg" in plan and "might_contain" in plan, plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join validation (events.user_id hot-key shape): one key
    carrying most of the rows must be split at runtime (`skew=true` on the
    join node in the final adaptive plan) instead of serializing the whole
    join behind one straggler task."""
    lowered = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # keep coalescing from merging everything back into one partition
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    prev = {k: spark.conf.get(k) for k in lowered}
    try:
        for k, v in lowered.items():
            spark.conf.set(k, v)
        # hot key 0 carries 95% of the fact side — the events.user_id shape
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(0)).otherwise(F.col("id")).alias("user_id"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dim = spark.range(0, 10_000).select(
            F.col("id").alias("user_id"), (F.col("id") * 2).alias("attr")
        )
        j = fact.join(dim, "user_id")
        # run THIS dataframe's own query execution (count() would build a
        # separate one and leave this plan un-finalized): skew handling is
        # a runtime (AQE) re-plan, visible only in the final plan.
        rows = j.collect()
        # 190k rows on hot key 0 + the 500 cold keys (<10000, %20==0)
        assert len(rows) == 190_500
        final_plan = _plan(j)
        assert "skew=true" in final_plan, final_plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_waiting_suppliers_single_fact_scan(spark):
    """Q21's EXISTS + NOT EXISTS must NOT become three fact scans: the
    window rewrite reads lineitem once and shuffles it once (both
    collect_set windows stack on the same l_orderkey exchange)."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["waiting_suppliers"].fn(spark, SF_DIR))
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("Exchange hashpartitioning(l_orderkey") == 1
    assert plan.count("Window") == 2  # stacked, no exchange between them


def test_quality_filter_is_shuffle_free(spark):
    """The quality gate must stay a narrow per-row map: no Exchange in the
    plan (the final orderBy is allowed its sort, nothing more)."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["quality_filter"].fn(spark, SF_DIR))
    # one rangepartitioning exchange for the cosmetic ORDER BY, none before
    body = plan.split("Sort")[-1]
    assert "Exchange hashpartitioning" not in body, plan


def test_mixture_upsample_broadcasts_stratum_counts(spark):
    """Stratum stats must come back to the corpus as a broadcast join —
    the corpus itself never shuffles for the copy-count assignment."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["mixture_upsample"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_dedup_joins_are_keyed(spark):
    """Candidate generation must be equi-joins (fingerprint / band_key) —
    no nested-loop or cartesian product anywhere in the verdict plan."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["incremental_dedup"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_guard_is_broadcast_semijoin(spark):
    """The oversized-block guard must not add a corpus shuffle: the block
    counts join back as a broadcast."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["ngram_jaccard_pairs"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_user_sessions_single_hash_shuffle(spark):
    """Sessionization: lag window, running-sum window, and the per-session
    groupBy must all ride ONE hashpartitioning(user_id) exchange — the
    session key refines the window partition key, so no re-shuffle."""
    from near_public_lakehouse_spark.queries.events import user_sessions

    plan = user_sessions(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    hash_ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(hash_ex) == 1 and "user_id" in hash_ex[0], plan
    assert plan.count("Window") == 2, plan


def test_range_search_cosine_broadcasts_queries(spark):
    """The radius query must broadcast the tiny query side and keep the
    candidate scan shuffle-free (no SortMergeJoin, no window sort)."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["range_search_cosine"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan  # range query needs no per-query top-k sort


def test_vocab_stats_partial_aggregation(spark):
    """Token counting must partial-aggregate map-side before the
    (source, token) shuffle — at 100 TB the combine is the difference
    between shuffling token occurrences and shuffling distinct counts."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["vocab_stats"].fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4  # partial+final at both levels


def test_conversion_lag_single_user_shuffle(spark):
    """purchase_conversion_lag: one shuffle keyed on user_id (the
    conditional-min agg), one tiny one on the day bucket — nothing else."""
    from near_public_lakehouse_spark.queries import all_queries

    df = all_queries()["purchase_conversion_lag"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    # two aggregation exchanges + the final orderBy range exchange
    assert plan.count("Exchange") <= 3


def test_asof_join_is_equi_keyed_never_cartesian(spark):
    """The as-of interval join must key on user_id with the time window as
    a residual — a BroadcastNestedLoopJoin/CartesianProduct here would be
    the O(clicks x views) disaster at scale."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["asof_click_view"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_substring_dedup_clean_no_python_and_bounded_shuffles(spark):
    """The span-removal transform must stay JVM-side (HOF rebuild, no
    Python eval) and keep its documented three-shuffle budget — a pair
    list or a Python UDF sneaking in would show here first."""
    from near_public_lakehouse_spark.queries import all_queries

    df = all_queries()["substring_dedup_clean"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # window-hash agg, dup-start regroup, rebuild join (+ the final
    # presentation sort) — no quadratic pair materialization anywhere
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 4


def test_star_cc_rounds_are_keyed_joins(spark):
    """Each star round is groupBy-min + equi-join on node ids: never a
    cartesian product, never Python."""
    from near_public_lakehouse_spark.queries.dedup import _star_cc

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)] + [(0, 39)], "doc_a long, doc_b long"
    )
    df = _star_cc(edges)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_shard_manifest_single_exchange_with_partial_agg(spark):
    """One groupBy on the seeded hash plus the standard two-phase
    expansion of count(DISTINCT source): exactly two hash exchanges —
    (shard_id, source) then shard_id — each fed by a partial aggregate so
    the shuffles carry |shards x sources| and |shards| rows; scan stays
    metadata-narrow (doc_id, text, source only)."""
    from near_public_lakehouse_spark.queries import all_queries

    df = all_queries()["shard_manifest"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial_count" in plan, plan
    f = _formatted(df)
    assert "n_chars" not in f.split("ReadSchema")[-1], f  # pruned column


def test_source_data_card_shuffles_on_source_only(spark):
    """Two-level aggregate keyed on source (the distinct-fingerprint
    expansion re-keys on (source, fingerprint) first): every hash
    exchange must include source, none may key on doc_id."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["source_data_card"].fn(spark, SF_DIR))
    exchanges = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert exchanges, plan
    for line in exchanges:
        assert "source" in line, line
        assert "doc_id" not in line, line


def test_tokenizer_pair_counts_are_vocabulary_keyed(spark):
    """BPE pair statistics must aggregate the distinct-word table, never
    the corpus: the plan re-keys on word then pair — no doc_id exchange."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["tokenizer_pair_frequencies"].fn(spark, SF_DIR))
    exchanges = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert exchanges, plan
    for line in exchanges:
        assert "doc_id" not in line, line


def test_quality_mixture_sample_broadcasts_global_stats(spark):
    """The corpus mean and the vocabulary totals come back as broadcast
    joins — the document side never shuffles for them."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["quality_mixture_sample"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_dsir_models_broadcast_onto_feature_stream(spark):
    """Both bag-of-buckets model tables are bounded by the fixed feature
    space, so the per-bucket log-ratio joins back to the document feature
    stream as a broadcast — never a sort-merge over the corpus — and the
    doc-side aggregation keeps map-side partials."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["sampling_dsir_importance"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_count" in plan  # map-side combine on the bucket counts


def test_kl_drift_broadcasts_totals(spark):
    """Per-source totals and the corpus total are tiny aggregates joined
    back broadcast; the only big shuffle keys on (source, token) with
    map-side partial aggregation."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["source_token_kl_drift"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "partial_count" in plan, plan


def test_dsir_topk_uses_take_ordered_not_global_sort(spark):
    """The resampling top-K compiles to TakeOrderedAndProject (per-partition
    heaps + K*P merge); the corpus is never globally sorted and the rank
    window only ever sees the K survivors."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["sampling_dsir_topk"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_gopher_gate_is_shuffle_free(spark):
    """Every Gopher-gate measure, including the most-common-bigram count,
    is a scan-side expression: no hash exchange anywhere in the plan (the
    cosmetic ORDER BY keeps its range sort, nothing more)."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["gopher_repetition_gate"].fn(spark, SF_DIR))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan


def test_cdc_chunking_shuffles_only_on_compact_keys(spark):
    """Content-defined chunking is scan-side HOFs + explode; the only hash
    exchanges are the two phases of the exact count(distinct doc_id)
    aggregate — (chunk_hash, doc_id) then chunk_hash, both compact keys,
    both with map-side partials. No join, no corpus-sized key."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["cdc_chunk_dedup"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial_count" in plan, plan
    assert "Join" not in plan, plan


def test_pmi_unigram_tables_broadcast_onto_pairs(spark):
    """The vocabulary-sized unigram table and the two scalar totals come
    back to the support-filtered bigram table as broadcasts — the pair
    table never sort-merges, and both count shuffles keep map-side
    partials."""
    from near_public_lakehouse_spark.queries import all_queries

    plan = _plan(all_queries()["bigram_pmi_phrases"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_count" in plan, plan


def test_adaptive_eval_reattaches_per_doc_state_without_broadcast(spark):
    """VERDICT r6/r7 task #2 'done' criterion: the eval twins' per-doc
    reattachment joins (signatures onto superset pairs, token sets onto
    truth pairs) are plain shuffle hash joins — an O(corpus) broadcast
    is the first executor OOM at 100 TB. Only the per-SOURCE cfg table
    (bounded rows) may broadcast. Asserted with auto-broadcast disabled
    so explicit F.broadcast hints are the only possible source of
    BroadcastHashJoin in the plan."""
    from near_public_lakehouse_spark.queries.adaptive_lsh import (
        _scored_superset,
        _superset_pairs,
        _truth_within,
    )
    from near_public_lakehouse_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    sup = _superset_pairs(docs)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        truth_plan = _plan(_truth_within(sup, docs))
        assert "BroadcastHashJoin" not in truth_plan, truth_plan
        scored_plan = _plan(_scored_superset(sup, docs))
        # the only broadcasts are the bounded per-source cfg table (once
        # per pair side, keyed on `source`); the per-doc reattachment
        # joins on doc_a/doc_b are never broadcast
        bhj = [l for l in scored_plan.splitlines() if "BroadcastHashJoin" in l]
        assert len(bhj) == 2, scored_plan
        for line in bhj:
            assert "source" in line and "doc_" not in line, line
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_suffix_offsets_have_no_single_partition_window(spark):
    """VERDICT r6/r7 task #3 'done' criterion: the corpus-position offset
    cumsum uses the two-pass partial-sum pattern, never an unpartitioned
    Window.orderBy (which serializes the whole corpus through one task).
    A regression to the global window would reappear in this plan as an
    'Exchange SinglePartition' feeding a Window."""
    from near_public_lakehouse_spark.queries.suffix import (
        corpus_token_stream,
        distributed_exclusive_cumsum,
    )
    from near_public_lakehouse_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(corpus_token_stream(docs))
    assert "SinglePartition" not in plan, plan

    # and the helper's running sum is the true global exclusive cumsum
    lens = docs.selectExpr("doc_id", "length(text) AS v")
    got = {
        r.doc_id: r.offset
        for r in distributed_exclusive_cumsum(lens, ["doc_id"], "v").collect()
    }
    rows = sorted(lens.collect(), key=lambda r: r.doc_id)
    acc = 0
    for r in rows:
        assert got[r.doc_id] == acc, (r.doc_id, got[r.doc_id], acc)
        acc += r.v


def test_bucketed_graph_iteration_is_edge_exchange_free(spark):
    """VERDICT r8 task #4: with the graph edge list pre-bucketed by the
    iteration join key, a PageRank round's physical plan contains EXACTLY
    one Exchange — the O(nodes) post-aggregate partial-sum exchange on
    dst. The edge scan itself is `Bucketed: true` and feeds the
    SortMergeJoin with no shuffle; at 100 TB the 100x-bigger edge table
    never moves again after the one-time bucketed write."""
    from pyspark.sql import functions as F

    from near_public_lakehouse_spark.queries import graph as G

    for t in ("pin_gb_by_src", "pin_gb_bi_by_supp", "pin_gb_bi_by_cust"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    tables = G.bucket_graph_edges(spark, SF_DIR, prefix="pin_gb", n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        contrib = spark.table(tables["by_src"])
        nodes = contrib.select(F.col("src").alias("node")).distinct()
        n = float(nodes.count())
        rank = nodes.select(
            "node", F.round(F.lit(1.0) / F.lit(n), G.PR_DP).alias("rank")
        )
        one_round = (
            contrib.join(rank.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("w") / F.col("deg") * F.col("rank")).alias("rank"))
        )
        plan = _plan(one_round)
        assert plan.count("Exchange") == 1, plan
        assert "Bucketed: true" in plan, plan
        assert "SortMergeJoin" in plan, plan

        # contrast: the same round over plain (unbucketed) edges shuffles
        # the edge side too
        flat = contrib.localCheckpoint()
        flat_round = (
            flat.join(rank.localCheckpoint().withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("w") / F.col("deg") * F.col("rank")).alias("rank"))
        )
        assert _plan(flat_round).count("Exchange") >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_graph_results_match_registry_queries(spark):
    """Hashes unchanged: the bucketed variants re-enter the registry
    queries' own iteration frames, so PageRank / BFS / HITS outputs are
    row-identical to the ad-hoc registry answers."""
    from near_public_lakehouse_spark.queries import all_queries
    from near_public_lakehouse_spark.queries import graph as G

    reg = all_queries()
    for t in ("par_gb_by_src", "par_gb_bi_by_supp", "par_gb_bi_by_cust"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    tables = G.bucket_graph_edges(spark, SF_DIR, prefix="par_gb", n_buckets=8)
    try:
        got_pr = G.pagerank_from_bucketed(spark, tables["by_src"]).collect()
        want_pr = reg["graph_pagerank"].fn(spark, SF_DIR).collect()
        assert got_pr == want_pr and len(got_pr) > 0

        got_bfs = G.bfs_from_bucketed(spark, tables["by_src"]).collect()
        want_bfs = reg["graph_bfs_hops"].fn(spark, SF_DIR).collect()
        assert got_bfs == want_bfs and len(got_bfs) > 0

        got_hits = G.hits_from_bucketed(
            spark, tables["bi_by_supp"], tables["bi_by_cust"]
        ).collect()
        want_hits = reg["a9_link_analysis_hits"].fn(spark, SF_DIR).collect()
        assert got_hits == want_hits and len(got_hits) > 0
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_public_table_fence_prunes_partitions(spark, tmp_path):
    """The public-table trailing window (block_date >= as_of - N days)
    must land in PartitionFilters — at 100 TB the daily publish reads
    only the trailing day partitions, never the table history."""
    from near_public_lakehouse_spark.plans import public as pub

    df = spark.createDataFrame(
        [("2024-03-01", "a"), ("2024-03-03", "b")],
        "block_date string, log string",
    ).withColumn("block_date", F.col("block_date").cast("date"))
    path = str(tmp_path / "logs")
    df.selectExpr(
        "block_date", "1L AS block_height",
        "CAST('2024-03-01' AS TIMESTAMP) AS block_timestamp_utc",
        "'SUCCESS_VALUE' AS status", "'x.near' AS executor_account_id",
        "'R1' AS receipt_id", "0L AS index_in_execution_outcome_logs", "log",
    ).write.partitionBy("block_date").parquet(path)
    fenced = pub.public_logs(
        spark.read.parquet(path), "2024-03-05 07:00:00", as_of="2024-03-03"
    )
    plan = _plan(fenced)
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[[^\]]*\]", plan).group(0)
    assert "block_date" in pf and ">= 2024-03-02" in pf, pf


def test_ivf_partitioned_probe_prunes_to_probed_cells(spark, tmp_path):
    """VERDICT r11 task #3: the IVF '100 TB serving shape' claim as a
    pinned plan — with the corpus stored partitioned by its cell key,
    `ivf_topk_partitioned`'s candidate scan carries a static cell-key IN
    predicate in PartitionFilters, the files actually read are exactly
    the probed cells' partitions (a strict subset of the table), and the
    output is row-identical to the unpartitioned `ivf_topk_frame`."""
    import re

    from near_public_lakehouse_spark.queries import similarity as S
    from near_public_lakehouse_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    out = str(tmp_path / "emb_by_cell")
    emb.write.partitionBy("label").parquet(out)

    got_df = S.ivf_topk_partitioned(spark, out, nprobe=1)
    plan = _plan(got_df)
    pf = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert pf is not None, plan
    assert "label" in pf.group(0), pf.group(0)
    assert re.search(r"label#\d+ (IN|INSET)", pf.group(0)), pf.group(0)

    # the scan's IO is exactly the probed cells' partitions
    labels = {
        r[0]
        for r in S._ivf_probe_cells(spark.read.parquet(out), nprobe=1)
        .select("label")
        .distinct()
        .collect()
    }
    all_files = {
        r[0]
        for r in spark.read.parquet(out)
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    pruned_files = {
        r[0]
        for r in spark.read.parquet(out)
        .filter(F.col("label").isin(list(labels)))
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    expected = {f for f in all_files if any(f"/label={l}/" in f for l in labels)}
    assert pruned_files == expected
    assert 0 < len(pruned_files) < len(all_files), (
        len(pruned_files),
        len(all_files),
    )

    # partition pruning is IO-only: identical rows to the full-scan frame
    got = sorted(map(tuple, got_df.collect()))
    want = sorted(
        map(tuple, S.ivf_topk_frame(spark.read.parquet(out), nprobe=1).collect())
    )
    assert got == want and got
