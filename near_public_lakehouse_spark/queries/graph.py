"""Iterative graph analytics over the TPC-H-ish tables: weighted
PageRank on the customer-supplier interaction graph.

The near-dup machinery already exercises connected components (two
engines, `queries/dedup.py`); this adds the other canonical iterative
graph primitive, with a REAL cross-engine oracle: the DuckDB side
unrolls the same {PR_ITERS} power iterations as generated CTE text
(`_pr_iteration_sql`), so every intermediate rank vector — not just an
invariant — is hash-compared. That makes this one of the few iterative
algorithms in the registry with a full-value oracle rather than a
rows-only twin.

Graph: undirected bipartite customer<->supplier, edge weight = number
of lineitems the pair transacted (lineitem x orders join). Every
included node has degree >= 1 by construction, so the walk has no
dangling mass.

Scale design: one edge-build shuffle (groupBy pair), then {PR_ITERS}
bounded rounds, each ONE join-aggregate shuffled on the edge source key
— the standard Pregel/GraphX message-passing shape; rank state is
O(nodes) and localCheckpointed per round to keep lineage flat. The only
driver-side read is the node count (one scalar).

Cross-engine determinism: ranks are rounded to 12 dp after EVERY
iteration on both engines, so summation-order noise (different
neighbor-contribution orders) cannot compound across rounds; the output
then passes the driver's 6 dp float canonicalization with margin.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from near_public_lakehouse_spark.functions.frames import inline_rows_df
from near_public_lakehouse_spark.queries.registry import query
from near_public_lakehouse_spark.sources.tables import load_table

PR_DAMPING = 0.85
PR_ITERS = 10
PR_DP = 12  # per-iteration rounding keeps both engines in lockstep

# ---------------------------------------------------------------------------
# Round-join regime auto-select (VERDICT r13 task #1). The r13 probe
# measured a real cliff: while the O(nodes) rank/score state fits a
# broadcast, AQE's per-round BroadcastHashJoin wins decisively — but at
# nodes ~ edges the default regime rebuilds an O(nodes) broadcast hash
# table EVERY round and degrades 2-5x vs a plain shuffled SMJ (SCALE.md
# 4M-pair table: PR 62 s bcast vs 37 s SMJ; HITS half 28 s vs 6 s).
# Selection was manual; now each iterative query estimates its state
# frame's broadcast weight in the SAME driver aggregate that already
# sizes the graph and pins the per-round join strategy accordingly:
# broadcastable -> leave the join unhinted (today's AQE-broadcast plan,
# bench plans byte-identical), else -> hint("merge") on the state side,
# which JoinSelection honors under AQE re-planning, keeping
# OptimizeSkewedJoin available (the probe's smj_skewaqe row). Mirrors
# the dedup hot-group detection pattern (adaptive_lsh.py: one bounded
# aggregate decides the physical strategy).

# Per-entry cost of the state row inside a broadcast HashedRelation:
# 8-byte score/rank plus key+entry overhead. Fitted against the probe:
# 1M nodes (~47 MB at this constant) already sits past the default
# 10 MB threshold and SMJ indeed wins there (4.6 s vs 5.6 s); TPC-H
# sf0.1's ~16k nodes (~0.8 MB) stay comfortably under and broadcast
# wins (bench plans unchanged).
STATE_ROW_OVERHEAD = 40

# Lineage-cut cadence for the iterative loops: checkpoint the O(nodes)
# state frame every this-many rounds instead of every round (see
# `_pr_rounds` for the measurement). Scale-neutral: the checkpoint is
# still O(nodes) and the plan depth between cuts is a constant.
CHECKPOINT_EVERY = 5

# --- node identity encoding (r15 optimization round, guide §2.3: narrower
# types — "halve the column, halve its shuffle bytes"). The iteration
# frames used to carry nodes as strings ("C<custkey>" / "S<suppkey>"):
# every per-round join/groupBy hashed and compared variable-length UTF8
# and every shuffle/localCheckpoint block carried ~8-16 bytes + offsets
# per key. Node identity is now one BIGINT — custkey*2 for customers,
# suppkey*2+1 for suppliers — decoded back to (node_type, node_id) only
# in the final output projection, which is bit-identical to the string
# plan's output (same type letter, same id, and the rank arithmetic
# never touches the key). Measured at sf0.1: the PageRank round-loop's
# localCheckpoint+shuffle bytes drop ~2x and per-round join/agg task
# time drops with them (numbers in OPTIMIZATION_r15.md). The DuckDB
# oracles keep their string-keyed form: only the FINAL (node_type,
# node_id, score) rows are compared, and per-iteration 12-dp rounding
# already makes the scores independent of summation order (the same
# discipline that lets two different ENGINES agree).


def _node_code(key_col: str, is_supplier: bool):
    """BIGINT node code: key*2 (+1 for the supplier partition)."""
    return (F.col(key_col) * 2 + (1 if is_supplier else 0)).cast("bigint")


def _decode_node_cols():
    """(node_type, node_id) from a BIGINT `node` code — the output-side
    inverse of `_node_code`."""
    return (
        F.when(F.col("node") % 2 == 0, F.lit("C")).otherwise(F.lit("S")).alias("node_type"),
        F.expr("node div 2").alias("node_id"),
    )


def _state_name_bytes(nodes: DataFrame, col: str = "node"):
    """Aggregate expression estimating the state key's payload bytes for
    the broadcast-regime pick: octet count for strings, 8 bytes/row for
    the BIGINT-coded form (the probes still feed string-keyed frames)."""
    if dict(nodes.dtypes)[col] == "string":
        return F.coalesce(F.sum(F.length(col)), F.lit(0))
    return F.count(F.lit(1)) * 8

_SIZE_RE = re.compile(r"^(-?\d+)\s*([kmgtp]?i?b?)$")
_SIZE_UNIT = {
    "": 1,
    "b": 1,
    **{
        p + s: 1024 ** e
        for e, p in enumerate("kmgtp", start=1)
        for s in ("", "b", "ib")
    },
}


def _parse_size_bytes(raw: str) -> int:
    """Spark size-string -> bytes ('10MB', '10m', '10485760', '-1')."""
    m = _SIZE_RE.match(str(raw).strip().lower())
    unit = _SIZE_UNIT.get(m.group(2)) if m else None
    if unit is None:
        return -1  # unparseable: treat as broadcast-disabled (safe regime)
    return int(m.group(1)) * unit


def _state_broadcastable(spark: SparkSession, rows: int, name_bytes: int) -> bool:
    """One-line regime pick: does an O(rows) state frame (node name +
    8-byte score) fit the session's broadcast threshold? `rows`/`name_bytes`
    come from the caller's existing driver aggregate — no extra job."""
    thr = _parse_size_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    )
    return thr > 0 and name_bytes + rows * STATE_ROW_OVERHEAD <= thr


def _agg_layout(edges: DataFrame, agg_key: str, n_rows: int) -> DataFrame:
    """Edge layout hash-partitioned by the round-aggregate's GROUP key, at
    the row-count-derived width (dedup.decision_parts), cached so the
    partitioning survives into every round's plan (r15 optimization
    round, guide §2.4 "two operations keyed the same way share one
    exchange"): in the broadcast-state regime the per-round join
    preserves the edge side's partitioning, so the groupBy(agg_key)
    needs NO exchange — the whole half-round runs as one map stage over
    the cached layout. `persist` (not `localCheckpoint`) is load-bearing:
    a checkpoint's RDD scan reports UnknownPartitioning and every round
    re-exchanges, while InMemoryRelation keeps the repartition's
    hashpartitioning. No cross-run result reuse: the layout is built from
    THIS invocation's localCheckpoint blocks, whose RDD id makes the
    cached plan unique per invocation — a fresh bench run re-reads
    parquet and re-pays the one layout shuffle. Only sensible in the
    broadcast regime (an SMJ on the other key would re-shuffle the
    layout away); merge-regime callers keep the plain checkpoint.

    Width: decision_parts FLOORED at the cluster parallelism (r16 — the
    idle-window probe VERDICT r15 asked for): the driver-paced loop
    makes every half-iteration a barrier whose wall is the layout map
    stage, so idle cores during that stage are pure latency — measured
    at sf0.1: width 2/4/8/16/32 -> 17.2/13.8/8.9/7.1/6.2 s minima,
    monotone to the core count. Cluster-derived, not a constant; at
    scale the row term dominates. (The r15 rejection of a core-count
    floor was for tiny DECISION frames whose downstream M x R stream
    setup dominated — this layout is the compute stage itself.)"""
    return edges.repartition(
        max(
            _decision_parts(n_rows),
            edges.sparkSession.sparkContext.defaultParallelism,
        ),
        agg_key,
    ).persist()


def _decision_parts(n_rows: int) -> int:
    from near_public_lakehouse_spark.queries.dedup import decision_parts

    return decision_parts(n_rows)


def _merge_layout(edges: DataFrame, key: str, n_rows: int) -> DataFrame:
    """Pre-partitioned + SORTED edge layout for the merge-regime rounds
    (r16 optimization round — the VERDICT r15 "remaining structural
    item"; guide §2.4 "two operations keyed the same way share one
    exchange" + §3.3): when the O(nodes) state exceeds the broadcast
    threshold every round is a SortMergeJoin, and the O(edges) side — a
    checkpoint scan with no known partitioning or ordering — paid a full
    Exchange + Sort PER ROUND. One keyed repartition + in-partition sort,
    cached, satisfies the SMJ's distribution AND ordering requirement on
    the edge side for every round: only the state side shuffles/sorts
    per round. `persist` (not localCheckpoint) is load-bearing exactly as
    in `_agg_layout` — InMemoryRelation preserves both outputPartitioning
    and outputOrdering, an RDD checkpoint scan reports neither. Measured
    on a synthetic merge-regime graph in tools/merge_probe.py (sf0.1
    always broadcasts, so bench plans are untouched)."""
    p = max(
        _decision_parts(n_rows),
        edges.sparkSession.sparkContext.defaultParallelism,
    )
    out = edges.repartition(p, key).sortWithinPartitions(key).persist()
    # Materialize NOW: only a FINALIZED cached plan reports the layout's
    # partitioning+ordering to EnsureRequirements (an unmaterialized
    # cache is an open AdaptiveSparkPlan and every round would still be
    # planned with the edge-side exchange+sort). One pass the first
    # round would have paid anyway; every round plan built after this
    # line is exchange-free on the edge side (pinned in
    # tests/test_r16_opt.py).
    out.count()
    return out


def _pr_iteration_sql() -> str:
    """r1..r{PR_ITERS} CTEs, each one power-iteration step over r(k-1)."""
    steps = []
    for k in range(1, PR_ITERS + 1):
        steps.append(
            f"""r{k} AS (
  SELECT e.dst AS node,
         round((1 - {PR_DAMPING}) / max(nn.n)
               + {PR_DAMPING} * sum(e.w / d.deg * r.rank), {PR_DP}) AS rank
  FROM edges e
  JOIN deg d ON d.src = e.src
  JOIN r{k - 1} r ON r.node = e.src
  CROSS JOIN nn
  GROUP BY e.dst
)"""
        )
    return ",\n".join(steps)


_PAGERANK_ORACLE = f"""
WITH edges0 AS (
  SELECT 'C' || o.o_custkey AS a, 'S' || l.l_suppkey AS b,
         CAST(count(*) AS DOUBLE) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
edges AS (
  SELECT a AS src, b AS dst, w FROM edges0
  UNION ALL
  SELECT b AS src, a AS dst, w FROM edges0
),
deg AS (SELECT src, sum(w) AS deg FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, round(1.0 / n, {PR_DP}) AS rank FROM nodes CROSS JOIN nn),
{_pr_iteration_sql()}
SELECT substr(node, 1, 1) AS node_type,
       CAST(substr(node, 2) AS BIGINT) AS node_id,
       rank AS pagerank
FROM r{PR_ITERS}
ORDER BY node_type, node_id
"""


@query(
    "graph_pagerank",
    # bench=True since r10 (VERDICT r9 task #3): stage metrics for the
    # graph trio ride in every BENCH so wall-time anomalies are
    # adjudicable from shuffle bytes / task time, not re-run arbitration.
    bench=True,
    tags=("graph", "iterative", "beyond-reference"),
    oracle=_PAGERANK_ORACLE,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping {PR_DAMPING}, {PR_ITERS} iterations)
    over the undirected customer-supplier graph — edge weight = lineitem
    count per pair. Every iteration is one edge-partitioned
    join-aggregate (Pregel message passing as a DataFrame op); the
    DuckDB oracle unrolls the identical iterations, so the full rank
    vector is value-checked, not just an invariant."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .select(
            _node_code("o_custkey", False).alias("a"),
            _node_code("l_suppkey", True).alias("b"),
            "w",
        )
    )
    return _pr_output(_pr_rounds(*_pr_setup(pairs)))


def _pr_setup(pairs: DataFrame) -> tuple[DataFrame, DataFrame, float, bool]:
    """(contrib, rank0, n, broadcast_state) from an undirected (a, b, w)
    pair list — shared by the registry query and the adversarial-skew
    probes so they measure the PRODUCTION frames. The 4th element is the
    auto-picked round-join regime (see `_state_broadcastable`)."""
    # Compute the pairs subtree ONCE (r15 optimization round, guide §2.4):
    # the plain union-of-two-projections recomputed the whole pairs plan
    # per branch — the stage metrics showed TWO full lineitem scans +
    # partial aggregates building this frame. A lazy checkpoint on pairs
    # makes the reverse branch a narrow block re-read. The UNION shape
    # itself stays (not an explode): its two branches keep the edge
    # checkpoint at >= 2 map partitions at any scale, which is what keeps
    # AQE's skew-split seam armed in the merge regime (a skewed reduce
    # partition can only split across >= 2 map outputs — the dedup
    # decision_parts floor-2 lesson; pinned by
    # tests/test_skew_graph.py::test_smj_regime_aqe_skew_split_engages).
    pairs_c = pairs.localCheckpoint(eager=False)
    edges = (
        pairs_c.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
        .unionByName(pairs_c.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w"))
        .localCheckpoint()
    )
    deg = edges.groupBy("src").agg(F.sum("w").alias("deg"))
    # Fold the degree in ONCE: without this checkpoint every round
    # recomputes the O(E) degree aggregate + join (measured 130 task-s /
    # 196 MB shuffle vs 66 task-s / 100 MB at sf0.1 — a 1.4x wall win).
    # Plain checkpoint, NOT a co-located layout: AQE runtime-broadcasts
    # the O(nodes) rank side each round, which beats the co-located SMJ
    # while the state fits a broadcast (measured: HITS 40 vs 550 task-s,
    # COVERAGE item 72); beyond it `_merge_layout` is the keyed layout,
    # probe-rejected for PageRank below.
    # The rounds only ever consume w/deg (r15 optimization round, guide
    # §2.3 narrower types): pre-dividing it into ONE double drops a
    # column from the checkpoint every round re-reads AND the per-edge
    # division from every round's join stage. Bit-identical: `_pr_round`
    # evaluated (w/deg)*rank left-to-right, so wd*rank is the same IEEE
    # op sequence.
    contrib = (
        edges.join(deg, "src")
        .select("src", "dst", (F.col("w") / F.col("deg")).alias("wd"))
        .localCheckpoint()
    )
    nodes = contrib.select(F.col("src").alias("node")).distinct().localCheckpoint()
    # The node count (needed for the teleport term anyway) and the state
    # frame's broadcast weight come from ONE bounded driver aggregate —
    # the regime pick costs no extra job (VERDICT r13 task #1).
    stats = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        _state_name_bytes(nodes).alias("name_bytes"),
    ).collect()[0]
    n = float(stats["n"])
    bcast = _state_broadcastable(
        nodes.sparkSession, int(stats["n"]), int(stats["name_bytes"])
    )
    rank = nodes.select("node", F.round(F.lit(1.0) / F.lit(n), PR_DP).alias("rank"))
    # Measured and rejected here (r15): both a dst-keyed `_agg_layout`
    # (the HITS move; ~1.7 s consistent regression) and a narrow
    # re-checkpoint of contrib (neutral at best) — with cadence-5
    # checkpoints AQE already pipelines five rounds per job and each
    # round's exchange carries only map-side-aggregated partials, so the
    # extra setup job never pays back over 8 rounds. The r16 probe
    # extended the rejection to the MERGE regime: a src-keyed sorted
    # `_merge_layout` on contrib measured WORSE on the synthetic 4M-pair
    # merge-regime graph (tools/merge_probe.py: wall 33 -> 36-49 s,
    # total shuffle 606 -> 855 MB) — PR chains five rounds between lazy
    # checkpoints, so AQE already coalesces/pipelines the round
    # exchanges and the one-time layout shuffle plus the cache's memory
    # pressure never pay back. BFS/HITS/CC, whose rounds cut lineage
    # per round (short per-round plans), DO keep the layout — measured
    # wins in the same probe.
    return contrib, rank, n, bcast


def _pr_round(
    contrib: DataFrame, rank: DataFrame, n: float, broadcast_state: bool = True
) -> DataFrame:
    """ONE power-iteration step — the join-aggregate whose skew behavior
    the adversarial probe pins (tools/skew_probe_graph.py): the join on
    `src` broadcasts the O(nodes) rank side under AQE (hot keys moot);
    in the state-exceeds-broadcast regime (`broadcast_state=False`, the
    `_pr_setup` auto-pick) the state side carries a merge hint, so the
    round is an SMJ whose hot-src partition is byte-proportional to the
    hot node's degree — visible to AQE's skew split, unlike dedup's
    row-quadratic case. The groupBy(dst) is sum-algebraic, so map-side
    partial aggregation collapses a hot dst's contributions before the
    shuffle."""
    state = rank.withColumnRenamed("node", "src")
    if broadcast_state:
        # EXPLICIT broadcast (r15 optimization round, guide §3.1 "size
        # estimates are often badly wrong — hint when you know"): the
        # state frame reaches each round as a localCheckpoint RDD scan,
        # whose planner estimate is sizeInBytes=MAX — so the round was
        # PLANNED as SMJ and both shuffles (including the O(E) edge side)
        # launched before AQE's runtime conversion to broadcast could
        # skip them. The regime pick above already measured that the
        # state fits the session broadcast threshold, so the hint is the
        # measurement made binding: the edge side is now a map-side probe
        # over the checkpoint blocks with NO per-round edge exchange
        # (stage evidence in OPTIMIZATION_r15.md: the per-round ~8 MB
        # contrib shuffle writes disappear).
        state = F.broadcast(state)
    else:
        state = state.hint("merge")
    return (
        contrib.join(state, "src")
        .groupBy("dst")
        .agg(
            F.round(
                F.lit((1 - PR_DAMPING) / n)
                + PR_DAMPING * F.sum(F.col("wd") * F.col("rank")),
                PR_DP,
            ).alias("rank")
        )
        .withColumnRenamed("dst", "node")
    )


def _pr_rounds(
    contrib: DataFrame,
    rank: DataFrame,
    n: float,
    broadcast_state: bool = True,
    iters: int = PR_ITERS,
) -> DataFrame:
    """The PageRank power-iteration loop, shared by the ad-hoc registry
    query and the bucketed production path: each round is ONE
    join-aggregate over `contrib` (src, dst, w, deg), rank state
    localCheckpointed every {CHECKPOINT_EVERY} rounds to keep lineage
    bounded. `broadcast_state` is `_pr_setup`'s auto-picked regime (4th
    tuple element).

    Checkpoint discipline (r15 optimization round, guide §1.2/§2.4): an
    EAGER checkpoint per round made every iteration a driver-
    synchronized job — the profile showed walls dominated by dozens of
    0.2-0.4 s sequential jobs, not compute. Lazy (eager=False)
    checkpoints keep the lineage cut but materialize inside the next
    consumer's job, and a cadence of {CHECKPOINT_EVERY} lets AQE pipeline
    that many rounds per execution while the plan stays depth-bounded.
    Measured at sf0.1 (cadence 1 / 2 / 5 / none over 3 GC-separated
    runs): ~9.6-10.8 / ~7.9-10.5 / ~8.2-8.8 / ~9.1-9.7 s — cadence 5 is
    the stable optimum; outputs are checkpoint-invariant (values are
    fixed by the per-round rounding, pinned by the oracle)."""
    if n == 0:
        # empty graph: no nodes, no rounds — rank0 is already the empty
        # frame with the (node, rank) schema, and building a round would
        # divide by the node count (r15 differential fuzz, empty-table
        # class)
        return rank
    for i in range(iters):
        rank = _pr_round(contrib, rank, n, broadcast_state)
        if (i + 1) % CHECKPOINT_EVERY == 0 or i == iters - 1:
            rank = rank.localCheckpoint(eager=False)
    return rank


def _pr_output(rank: DataFrame) -> DataFrame:
    return rank.select(
        *_decode_node_cols(),
        F.col("rank").alias("pagerank"),
    ).orderBy("node_type", "node_id")


# ---------------------------------------------------------------------------
# BFS hop distances — the min-plus twin of the PageRank iteration

BFS_ITERS = 8
BFS_SOURCE = "S1"  # supplier 1: present at every SF (oracle-side name)
BFS_SOURCE_CODE = 1 * 2 + 1  # the same node under the BIGINT coding


def _bfs_iteration_sql() -> str:
    steps = []
    for k in range(1, BFS_ITERS + 1):
        steps.append(
            f"""d{k} AS (
  SELECT node, min(hops) AS hops FROM (
    SELECT node, hops FROM d{k - 1}
    UNION ALL
    SELECT e.dst AS node, r.hops + 1 AS hops
    FROM edges e JOIN d{k - 1} r ON r.node = e.src
  ) GROUP BY node
)"""
        )
    return ",\n".join(steps)


_BFS_ORACLE = f"""
WITH edges0 AS (
  SELECT DISTINCT 'C' || o.o_custkey AS a, 'S' || l.l_suppkey AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT a AS src, b AS dst FROM edges0
  UNION ALL
  SELECT b AS src, a AS dst FROM edges0
),
d0 AS (SELECT '{BFS_SOURCE}' AS node, CAST(0 AS BIGINT) AS hops),
{_bfs_iteration_sql()}
SELECT substr(node, 1, 1) AS node_type,
       CAST(substr(node, 2) AS BIGINT) AS node_id,
       hops
FROM d{BFS_ITERS}
ORDER BY node_type, node_id
"""


@query(
    "graph_bfs_hops",
    # bench=True since r10 (VERDICT r9 task #3): stage metrics for the
    # graph trio ride in every BENCH so wall-time anomalies are
    # adjudicable from shuffle bytes / task time, not re-run arbitration.
    bench=True,
    tags=("graph", "iterative", "beyond-reference"),
    oracle=_BFS_ORACLE,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from supplier {BFS_SOURCE} to every reachable
    node within {BFS_ITERS} hops on the undirected customer-supplier
    graph — the min-plus (shortest-path) twin of the PageRank iteration:
    each round expands the frontier by one edge join and folds with
    min(hops), all-integer so the cross-engine check is exact with no
    rounding discipline needed. The DuckDB oracle unrolls the identical
    rounds. Frontier state is O(reached nodes); each round is one
    edge-partitioned join-aggregate."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            _node_code("o_custkey", False).alias("a"),
            _node_code("l_suppkey", True).alias("b"),
        )
        .distinct()
    )
    # Compute the distinct-pairs subtree once — same lazy-checkpoint +
    # union move as `_pr_setup` (the plain union recomputed the distinct
    # per branch; the two union branches keep >= 2 map partitions so
    # AQE's skew-split seam stays armed in the merge regime).
    pairs_c = pairs.localCheckpoint(eager=False)
    edges = (
        pairs_c.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(pairs_c.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint()
    )
    # Width discipline (guide §2.2, dedup.narrowed_ckpt): the 16-byte
    # edge rows inherit the distinct's shuffle width; every round's
    # frontier join then re-reads that many blocks. The min-fold union
    # mixes in the unknown-partitioned dist checkpoint, so (unlike
    # HITS/PR) no agg-keyed layout can remove the round exchange — the
    # narrow checkpoint is the available win.
    from near_public_lakehouse_spark.queries.dedup import narrowed_ckpt

    n_edges = edges.count()
    edges = narrowed_ckpt(edges, n_edges)
    # Regime pick for the frontier join (r15 optimization round — BFS
    # previously had NO pick, so every round was planned as SMJ off the
    # checkpoint's MAX size estimate and shuffled the full edge set; the
    # stage metrics showed ~9.6 MB of edge shuffle per round on a frame
    # the frontier side could broadcast). The frontier is bounded by the
    # node count; approx_count_distinct over the already-materialized
    # edge blocks is one cheap bounded aggregate, same pattern as
    # `_hits_regimes`. 1.1x headroom as in `_star_cc`: the ~5% rsd
    # estimate can UNDERcount, and it binds a hard F.broadcast.
    n_nodes = int(1.1 * int(edges.agg(F.approx_count_distinct("src")).first()[0] or 0))
    bcast = _state_broadcastable(spark, n_nodes, n_nodes * 8)
    dist = inline_rows_df(
        spark, [(BFS_SOURCE_CODE, 0)], [("node", "bigint"), ("hops", "bigint")]
    )
    if bcast:
        return _bfs_output(_bfs_rounds(edges, dist, broadcast_state=True))
    # merge regime: per-round SMJ — pre-shape the static edge side once so
    # only the frontier exchanges/sorts per round (r16). The rounds are
    # lazy, so materialize the final state before dropping the cached
    # layout; otherwise it outlives the query in the session's cache.
    layout = _merge_layout(edges, "src", n_edges)
    dist = _bfs_rounds(layout, dist, broadcast_state=False).localCheckpoint()
    layout.unpersist()
    return _bfs_output(dist)


def _bfs_round(
    edges: DataFrame, dist: DataFrame, broadcast_state: bool = True
) -> DataFrame:
    """ONE frontier expansion: edge join + min-fold. min() is algebraic,
    so a hot node's incoming expansions collapse map-side; the join skew
    story is `_pr_round`'s (broadcast frontier, or byte-visible SMJ).
    `broadcast_state` binds the measured regime pick exactly as in
    `_pr_round` — the frontier side's RDD-scan estimate is MAX bytes, so
    without the explicit hint the planner shuffles the edge side every
    round."""
    frontier = dist.withColumnRenamed("node", "src")
    if broadcast_state:
        frontier = F.broadcast(frontier)
    expanded = edges.join(frontier, "src").select(
        F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops")
    )
    return (
        dist.unionByName(expanded)
        .groupBy("node")
        .agg(F.min("hops").alias("hops"))
    )


def _bfs_rounds(
    edges: DataFrame,
    dist: DataFrame,
    iters: int = BFS_ITERS,
    broadcast_state: bool = True,
) -> DataFrame:
    """The min-plus frontier-expansion loop, shared by the registry query
    and the bucketed path: each round one edge join + min-fold.

    Unlike `_pr_rounds`, the checkpoint stays PER-ROUND (lazily): a BFS
    round references `dist` TWICE (the frontier join and the min-fold
    union), so skipping rounds duplicates the uncut subtree 2x per
    skipped round — measured at sf0.1: cadence-5 lazy 11.0 s vs
    per-round lazy 8.2 s (per-round EAGER, the r14 shape, was 11.3 s)."""
    for _ in range(iters):
        dist = _bfs_round(edges, dist, broadcast_state).localCheckpoint(eager=False)
    return dist


def _bfs_output(dist: DataFrame) -> DataFrame:
    return dist.select(*_decode_node_cols(), "hops").orderBy("node_type", "node_id")


# ---------------------------------------------------------------------------
# HITS hubs/authorities — the bipartite link-analysis twin

HITS_ITERS = 8
HITS_DP = 12
_HITS_DEC = "DECIMAL(30,15)"


def _hits_iteration_sql() -> str:
    """h{k}/a{k} CTE pairs: decimal-exact neighbor sums (order-free, the
    repo's dsum discipline) then max-normalization + rounding — every
    intermediate is bit-identical across engines, so no noise compounds.
    Normalization uses `max(s) OVER ()` so each CTE is referenced exactly
    once: DuckDB INLINES CTE references, and a scalar-subquery max would
    double-reference each round, exploding the unrolled plan (and the
    parquet open count) exponentially."""
    steps = []
    for k in range(1, HITS_ITERS + 1):
        steps.append(
            f"""h{k}_raw AS (
  SELECT e.cust AS node,
         CAST(sum(CAST(e.w * a.score AS {_HITS_DEC})) AS DOUBLE) AS s
  FROM edges e JOIN a{k - 1} a ON a.node = e.supp
  GROUP BY e.cust
),
h{k} AS (
  SELECT node, round(s / max(s) OVER (), {HITS_DP}) AS score FROM h{k}_raw
),
a{k}_raw AS (
  SELECT e.supp AS node,
         CAST(sum(CAST(e.w * h.score AS {_HITS_DEC})) AS DOUBLE) AS s
  FROM edges e JOIN h{k} h ON h.node = e.cust
  GROUP BY e.supp
),
a{k} AS (
  SELECT node, round(s / max(s) OVER (), {HITS_DP}) AS score FROM a{k}_raw
)"""
        )
    return ",\n".join(steps)


_HITS_ORACLE = f"""
WITH edges AS (
  SELECT 'C' || o.o_custkey AS cust, 'S' || l.l_suppkey AS supp,
         CAST(count(*) AS DOUBLE) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
a0 AS (SELECT DISTINCT supp AS node, CAST(1.0 AS DOUBLE) AS score FROM edges),
{_hits_iteration_sql()}
SELECT * FROM (
  SELECT 'C' AS node_type, CAST(substr(node, 2) AS BIGINT) AS node_id,
         score AS hub_or_auth
  FROM h{HITS_ITERS}
  UNION ALL
  SELECT 'S' AS node_type, CAST(substr(node, 2) AS BIGINT) AS node_id,
         score AS hub_or_auth
  FROM a{HITS_ITERS}
)
ORDER BY node_type, node_id
"""


@query(
    "link_analysis_hits",
    # bench=True since r10 (VERDICT r9 task #3): stage metrics for the
    # graph trio ride in every BENCH so wall-time anomalies are
    # adjudicable from shuffle bytes / task time, not re-run arbitration.
    bench=True,
    tags=("graph", "iterative", "beyond-reference"),
    oracle=_HITS_ORACLE,
)
def link_analysis_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities on the customer->supplier bipartite graph
    (customers are hubs, suppliers authorities; edge weight = lineitem
    count), {HITS_ITERS} iterations. Two determinism tools make the full
    score vector oracle-checkable: neighbor sums use the repo's
    decimal-exact dsum discipline (order-free, engine-identical — plain
    double sums would drift by summation order), and each round
    normalizes by the MAX score (an order-free reduction, unlike an L2
    norm whose sum-of-squares would reintroduce float noise). The DuckDB
    oracle unrolls the identical rounds. Each half-iteration is one
    edge-partitioned join-aggregate; score state is O(nodes)."""
    from near_public_lakehouse_spark.functions.numeric import dsum

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # cust/supp live in SEPARATE columns throughout the HITS iteration, so
    # the raw BIGINT keys are already unambiguous node identities — no
    # string prefix (or even the *2 coding) needed; the 'C'/'S' letters
    # are attached only in `_hits_output` (guide §2.3, narrower types).
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .select(
            F.col("o_custkey").cast("bigint").alias("cust"),
            F.col("l_suppkey").cast("bigint").alias("supp"),
            "w",
        )
        .localCheckpoint()
    )

    auth = edges.select(F.col("supp").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("score")
    )
    bcast_auth, bcast_hub = _hits_regimes(edges)
    # Agg-keyed cached layouts for the broadcast-regime halves (see
    # `_agg_layout`): the h-half joins on supp and groups by cust, the
    # a-half the reverse — each gets the layout its GROUP key needs, and
    # the per-round aggregate exchange disappears. One count on the
    # already-materialized checkpoint sizes both layouts. Measured at
    # sf0.1: 13.2-14.4 s -> ~10.2 s median (tasktime 44 -> ~25 s),
    # output bit-identical.
    n_edges = edges.count()
    # broadcast halves: layout keyed by the GROUP key (the broadcast join
    # preserves it, so the round aggregate needs no exchange); merge
    # halves: layout keyed + sorted by the JOIN key (the SMJ's edge side
    # stops re-exchanging and re-sorting per half — r16, merge_probe A/B)
    e_h = (
        _agg_layout(edges, "cust", n_edges)
        if bcast_auth
        else _merge_layout(edges, "supp", n_edges)
    )
    e_a = (
        _agg_layout(edges, "supp", n_edges)
        if bcast_hub
        else _merge_layout(edges, "cust", n_edges)
    )
    hub, auth = _hits_rounds(e_h, e_a, auth, bcast_auth, bcast_hub)
    if not (bcast_auth and bcast_hub):
        # Mixed/merge regimes return lazy plans that still read the
        # layouts: materialize the final state first. (The driver-paced
        # loop already read every layout inside its per-half collects
        # and returns literal state.)
        hub, auth = hub.localCheckpoint(), auth.localCheckpoint()
    # The cached layouts have no remaining consumer: drop them instead of
    # leaking two InMemoryRelations per invocation into the session.
    for lay in (e_h, e_a):
        lay.unpersist()
    return _hits_output(hub, auth)


def _hits_regimes(edges: DataFrame) -> tuple[bool, bool]:
    """(bcast_auth, bcast_hub) from ONE bounded aggregate over the
    bipartite edge list: the two half-iterations carry DIFFERENT state
    frames (auth is O(suppliers), hub is O(customers)), so each gets its
    own broadcast-vs-merge pick. approx_count_distinct is plenty for a
    regime threshold; max(length) upper-bounds the name bytes."""
    types = dict(edges.dtypes)
    len_of = lambda c: (  # noqa: E731 — per-column byte estimate
        F.coalesce(F.max(F.length(c)), F.lit(0)) if types[c] == "string" else F.lit(8)
    )
    s = edges.agg(
        F.approx_count_distinct("cust").alias("nc"),
        F.approx_count_distinct("supp").alias("ns"),
        len_of("cust").alias("lc"),
        len_of("supp").alias("ls"),
    ).collect()[0]
    spark = edges.sparkSession
    # 1.1x headroom on the approximate counts, as in `_star_cc`: the ~5%
    # rsd estimate can UNDERcount, and each pick binds a hard F.broadcast.
    ns, nc = int(1.1 * int(s["ns"])), int(1.1 * int(s["nc"]))
    return (
        _state_broadcastable(spark, ns, ns * int(s["ls"])),
        _state_broadcastable(spark, nc, nc * int(s["lc"])),
    )


def _hits_rounds(
    edges_by_supp: DataFrame,
    edges_by_cust: DataFrame,
    auth: DataFrame,
    bcast_auth: bool = True,
    bcast_hub: bool = True,
    iters: int = HITS_ITERS,
) -> tuple[DataFrame, DataFrame]:
    """The alternating hub/authority half-iterations, shared by the
    registry query (one edge frame both ways) and the bucketed path
    (one layout per join side — the half-iterations join on DIFFERENT
    keys, so each needs its own co-located layout). The two bcast_*
    flags are `_hits_regimes`' auto-picked per-half join strategies.

    When BOTH states are measured broadcastable the loop runs
    driver-paced (`_hits_rounds_driver`) — the k-means centroid shape;
    any merge-regime half keeps the distributed chain below."""
    if bcast_auth and bcast_hub:
        return _hits_rounds_driver(edges_by_supp, edges_by_cust, auth, iters)
    hub = None
    for _ in range(iters):
        hub = _hits_half(edges_by_supp, auth, "supp", "cust", bcast_auth)
        auth = _hits_half(edges_by_cust, hub, "cust", "supp", bcast_hub)
    return hub, auth


def _hits_state_rows(
    edges: DataFrame, score: DataFrame, join_key: str, out_key: str
) -> list[tuple]:
    """ONE half-iteration's raw sums collected to the driver:
    [(node, s)] from the same `_hits_raw` join-aggregate the distributed
    path runs (s is dsum's DOUBLE). Broadcast-regime only — the regime
    pick has already measured that the O(nodes) state fits the session
    broadcast threshold, so this collect is byte-bounded by the SAME
    limit Spark's own BroadcastExchange collect honors; the merge regime
    never reaches this path."""
    raw = _hits_raw(edges, score, join_key, out_key, broadcast_state=True)
    return [(r["node"], r["s"]) for r in raw.collect()]


def _hits_state_df(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """(node, score) literal state frame from collected raw sums: the
    max-normalizer's max comes from an exact driver-side comparison fold
    over the very doubles Spark would have folded (no arithmetic — same
    value bit-for-bit), and the division + {HITS_DP}-dp rounding stay
    SPARK expressions over the literal frame, so every score is the
    identical IEEE op sequence as the distributed window form. The rows
    ship back as one Arrow batch (`createDataFrame(pandas)` under the
    session's arrow conf — the k-means centroid idiom; a session without
    the conf falls back to the pickled path, correct but slower)."""
    import pandas as pd

    mx = max((s for _, s in rows), default=1.0)
    if rows:
        # coalesce(1): the Arrow path slices the pandas frame into
        # defaultParallelism partitions, so every consumer (each half's
        # broadcast build, the final save) paid 32 near-empty tasks per
        # scan of a ~15k-row state — measured 10.8 task-s across 64
        # tasks in the save job alone. One O(nodes) batch is one task.
        lit = spark.createDataFrame(
            pd.DataFrame(rows, columns=["node", "s"]), "node bigint, s double"
        ).coalesce(1)
    else:  # empty graph: schema-only frame (empty pandas has no dtypes)
        lit = spark.createDataFrame([], "node bigint, s double")
    return lit.select(
        "node", F.round(F.col("s") / F.lit(mx), HITS_DP).alias("score")
    )


def _hits_rounds_driver(
    edges_by_supp: DataFrame,
    edges_by_cust: DataFrame,
    auth: DataFrame,
    iters: int = HITS_ITERS,
) -> tuple[DataFrame, DataFrame]:
    """The broadcast-regime HITS loop, driver-paced (r16 optimization
    round, guide §1.2 — the wall was stage-sequencing latency, not
    compute): the distributed chain paid TWO broadcast-exchange jobs per
    half (~5 stages: re-running the previous state's single-partition
    window inside each half's broadcast build, then the next build over
    the raw checkpoint — 48 jobs / 103 stages / ~20 task-s per
    invocation at sf0.1). Here each half is ONE collect job — the
    `_hits_raw` aggregate runs over the agg-keyed layout with NO
    exchange and its O(nodes) result (bounded by the broadcast
    threshold, per the regime pick) returns to the driver, which is
    where Spark's own broadcast build would have sent it anyway — and
    the state returns as an Arrow literal frame whose broadcast build is
    a single trivial task. Scores are bit-identical to the distributed
    path (`_hits_state_df`; parity pinned in tests/test_r16_opt.py).
    The k-means Lloyd's-loop shape, applied to link analysis."""
    spark = auth.sparkSession
    hub = None
    for _ in range(iters):
        hub = _hits_state_df(
            spark, _hits_state_rows(edges_by_supp, auth, "supp", "cust")
        )
        auth = _hits_state_df(
            spark, _hits_state_rows(edges_by_cust, hub, "cust", "supp")
        )
    return hub, auth


def _hits_half(
    edges: DataFrame,
    score: DataFrame,
    join_key: str,
    out_key: str,
    broadcast_state: bool = True,
) -> DataFrame:
    """ONE half-iteration: neighbor dsum on `join_key`, max-normalized.
    dsum is an algebraic decimal sum, so a hot `out_key`'s contributions
    collapse map-side; the score-side join skew story is `_pr_round`'s
    (broadcast under AQE while the state fits, merge-hinted SMJ beyond —
    the `_hits_regimes` auto-pick)."""
    from near_public_lakehouse_spark.functions.numeric import dsum

    # LAZY checkpoint (r15 optimization round, guide §2.4/§5): `raw`
    # feeds BOTH the max-normalizer's broadcast aggregate and the
    # normalize projection — unmaterialized, every half-iteration ran
    # the edge join + dsum TWICE (once inside the broadcast build, once
    # in the main pass; 141 stages for 16 half-rounds in BENCH r14).
    # eager=False materializes the blocks inside the first consumer's
    # job instead of adding a second per-half driver barrier. This
    # checkpoint also bounds the round-chain plan depth, so the
    # half-results themselves no longer checkpoint (see `_hits_rounds`).
    raw = _hits_raw(edges, score, join_key, out_key, broadcast_state).localCheckpoint(
        eager=False
    )
    # BROADCAST REGIME: max() OVER () instead of a separate broadcast max
    # aggregate (r15 optimization round, guide §1.2 driver-barrier
    # latency): the crossJoin(broadcast(mx)) form cost one extra
    # broadcast-build job PER HALF just to ship one double; the
    # empty-frame window runs inside the SAME job that builds the next
    # half's state broadcast (one exchange of the frame to a single
    # partition — the regime pick just proved it fits a BROADCAST, so one
    # partition of it is trivial, and it is exactly the oracle's own
    # `max(s) OVER ()` formulation). Values bit-identical: same max,
    # same division, same rounding. MERGE REGIME: the state frame is by
    # definition too big for one task — keep the parallel max aggregate
    # + 1-row broadcast crossJoin there.
    if broadcast_state:
        from pyspark.sql import Window as W

        return raw.select(
            "node",
            F.round(
                F.col("s") / F.max("s").over(W.partitionBy()), HITS_DP
            ).alias("score"),
        )
    mx = raw.agg(F.max("s").alias("mx"))
    return raw.crossJoin(F.broadcast(mx)).select(
        "node", F.round(F.col("s") / F.col("mx"), HITS_DP).alias("score")
    )


def _hits_raw(
    edges: DataFrame,
    score: DataFrame,
    join_key: str,
    out_key: str,
    broadcast_state: bool = True,
) -> DataFrame:
    """The half-iteration's join-aggregate, split from the normalization
    so plan pins (merge-hint-survives-AQE, map-side partials) can assert
    on the frame that CONTAINS the join — `_hits_half` checkpoints it,
    which hides the join behind an RDD scan in the executed plan."""
    from near_public_lakehouse_spark.functions.numeric import dsum

    state = score.withColumnRenamed("node", join_key)
    if broadcast_state:
        # Explicit broadcast for the measured-broadcastable regime (see
        # `_pr_round`): without it the half was PLANNED as SMJ (the state
        # side is an RDD scan estimated at MAX bytes) and the edge layout
        # was re-exchanged by join key every half — exactly the exchange
        # `_agg_layout` exists to delete. With the plan-time broadcast the
        # layout's GROUP-key partitioning survives the join and the
        # half's aggregate truly runs with no exchange.
        state = F.broadcast(state)
    else:
        state = state.hint("merge")
    return (
        edges.join(state, join_key)
        .groupBy(out_key)
        .agg(dsum(F.col("w") * F.col("score"), scale=15, precision=30).alias("s"))
        .withColumnRenamed(out_key, "node")
    )


def _hits_output(hub: DataFrame, auth: DataFrame) -> DataFrame:
    def half(df: DataFrame, letter: str) -> DataFrame:
        node_id = (
            F.expr("CAST(substring(node, 2) AS BIGINT)")
            if dict(df.dtypes)["node"] == "string"
            else F.col("node").cast("bigint")
        )
        return df.select(
            F.lit(letter).alias("node_type"),
            node_id.alias("node_id"),
            F.col("score").alias("hub_or_auth"),
        )

    return half(hub, "C").unionByName(half(auth, "S")).orderBy("node_type", "node_id")


# ---------------------------------------------------------------------------
# bucketed production path (VERDICT r8 task #4): the one-time edge shuffle
# is paid at WRITE time; every iteration's big-side join then reads a
# co-located bucketed scan with NO Exchange. Only the O(nodes) rank/score
# state and the post-aggregate partials move per round — at 100 TB the
# edge table (the 100x bigger side) never reshuffles again. Kept OUT of
# the registry queries themselves: a driver correctness run must stay a
# read-only one-shot (and a one-shot can't amortize a bucket write);
# production iterative jobs call bucket_graph_edges once, then the
# *_from_bucketed variants every run. Parity with the registry queries
# and the zero-Exchange plan are pinned in tests/test_plan_shapes.py.

GRAPH_BUCKETS = 32


def bucket_graph_edges(
    spark: SparkSession, sf_dir: str, prefix: str = "graph_bkt", n_buckets: int = GRAPH_BUCKETS
) -> dict[str, str]:
    """One-time bucketed layouts for the graph family:

    - {prefix}_by_src  (src, dst, w, deg): the undirected weighted edge
      list with out-degree folded in, bucketed+sorted by src — serves
      PageRank (contrib join) and BFS (frontier expansion; the (src,dst)
      set of the weighted list IS the distinct pair set).
    - {prefix}_bi_by_supp / {prefix}_bi_by_cust  (cust, supp, w): the
      bipartite list in both layouts — HITS half-iterations join on
      supp then cust, so co-location needs one layout per key (the
      DataFrame analog of GraphX's edge replication).
    """
    from near_public_lakehouse_spark.operators.bucketing import write_bucketed

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    bi = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .select(
            F.col("o_custkey").cast("bigint").alias("cust"),
            F.col("l_suppkey").cast("bigint").alias("supp"),
            "w",
        )
    )
    # the undirected union mixes the two partitions in ONE column, so it
    # uses the *2(+1) BIGINT coding (same as the registry queries)
    pairs = bi.select(
        (F.col("cust") * 2).alias("a"), (F.col("supp") * 2 + 1).alias("b"), "w"
    )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w").unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w")
    )
    deg = edges.groupBy("src").agg(F.sum("w").alias("deg"))
    tables = {
        "by_src": f"{prefix}_by_src",
        "bi_by_supp": f"{prefix}_bi_by_supp",
        "bi_by_cust": f"{prefix}_bi_by_cust",
    }
    write_bucketed(edges.join(deg, "src"), tables["by_src"], ["src"], n_buckets)
    write_bucketed(bi, tables["bi_by_supp"], ["supp"], n_buckets)
    write_bucketed(bi, tables["bi_by_cust"], ["cust"], n_buckets)
    return tables


def pagerank_from_bucketed(spark: SparkSession, by_src_table: str) -> DataFrame:
    """`graph_pagerank` over the pre-bucketed edge layout: identical
    iteration frames (`_pr_rounds`), but every round's edge-side join and
    the node/degree derivations read co-located buckets with no Exchange."""
    # same wd = w/deg projection as `_pr_setup` (a projection preserves
    # the bucketed layout's co-location — no exchange appears)
    contrib = spark.table(by_src_table).select(
        "src", "dst", (F.col("w") / F.col("deg")).alias("wd")
    )
    nodes = contrib.select(F.col("src").alias("node")).distinct().localCheckpoint()
    stats = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        _state_name_bytes(nodes).alias("name_bytes"),
    ).collect()[0]
    n = float(stats["n"])
    bcast = _state_broadcastable(spark, int(stats["n"]), int(stats["name_bytes"]))
    rank = nodes.select("node", F.round(F.lit(1.0) / F.lit(n), PR_DP).alias("rank"))
    return _pr_output(_pr_rounds(contrib, rank, n, bcast))


def bfs_from_bucketed(spark: SparkSession, by_src_table: str) -> DataFrame:
    """`graph_bfs_hops` over the pre-bucketed edge layout — same
    `_bfs_rounds` frames, exchange-free edge side per round."""
    edges = spark.table(by_src_table).select("src", "dst")
    # same measured regime pick as the registry query: broadcast binds
    # only when the O(nodes) frontier fits the session threshold; beyond
    # it the rounds stay joins over the co-located bucketed scan.
    n_nodes = int(edges.agg(F.approx_count_distinct("src")).first()[0] or 0)
    bcast = _state_broadcastable(spark, n_nodes, n_nodes * 8)
    dist = inline_rows_df(
        spark, [(BFS_SOURCE_CODE, 0)], [("node", "bigint"), ("hops", "bigint")]
    )
    return _bfs_output(_bfs_rounds(edges, dist, broadcast_state=bcast))


def hits_from_bucketed(
    spark: SparkSession, bi_by_supp_table: str, bi_by_cust_table: str
) -> DataFrame:
    """`link_analysis_hits` over the two pre-bucketed bipartite layouts —
    same `_hits_rounds` frames, each half-iteration's edge side co-located
    with its join key."""
    e_supp = spark.table(bi_by_supp_table)
    e_cust = spark.table(bi_by_cust_table)
    auth = e_supp.select(F.col("supp").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("score")
    )
    return _hits_output(*_hits_rounds(e_supp, e_cust, auth, *_hits_regimes(e_supp)))
