"""`sql_analytics`: the lakehouse's read-side consumer.

Nine short headline queries from the engine's registry, run one after the
other by one client, each result pulled to the driver (the timed call
ends when the user holds the rows). The seed sets the query order within
a pass. The tables are the engine's sf0.01 testdata (`tables/`).
Passes repeat until `--seconds` have gone by (at least one); a
query's wall time is its median over the passes. Every result of the
last pass is compared with the query's DuckDB oracle after the timed
region.
"""

from __future__ import annotations

import random
import re
import sys
import time
import traceback

from perfbench import checks
from perfbench.common import TABLES, HostCpu, geomean, median

# Organic registry names. The registry resolves them through any driver-
# window alias (aN_<name>), so a rotation can never rename a member.
MEMBERS = (
    "pricing_summary",
    "top_revenue_orders",
    "regional_supplier_revenue",
    "returned_item_customers",
    "daily_active_users",
    "embedding_topk_cosine",
    "retrieval_hybrid_rrf",
    "corpus_prep",
    "self_dedup_clean",
)
_ALIAS = re.compile(r"^a\d+_")


def resolve(registry, name: str):
    """The registered query for an organic name, whatever key it sits under."""
    q = registry[name]
    if _ALIAS.sub("", q.name) != name:
        raise KeyError(f"{name} resolved to {q.name}")
    return q


def run(spark_setup, seed: int, seconds: float, tracer_factory=None) -> dict:
    data = str(TABLES)

    def warm_up(spark):
        from near_public_lakehouse_spark.queries import all_queries
        from near_public_lakehouse_spark.sources.tables import load_table

        all_queries()
        # a join, a shuffle and the Arrow path to pandas, as every member has
        li, od = load_table(spark, data, "lineitem"), load_table(spark, data, "orders")
        li.join(od, li.l_orderkey == od.o_orderkey).groupBy("l_returnflag").count().toPandas()

    spark = spark_setup(warm_up)
    tracer = tracer_factory(spark) if tracer_factory else None
    from near_public_lakehouse_spark.queries import all_queries

    registry = all_queries()
    queries = {n: resolve(registry, n) for n in MEMBERS}
    order = list(MEMBERS)
    random.Random(seed).shuffle(order)

    cpu = HostCpu()
    walls: dict[str, list[float]] = {n: [] for n in MEMBERS}
    results: dict[str, object] = {}
    failed = attempted = 0
    span_ids: dict[str, list[int]] = {n: [] for n in MEMBERS}
    pass_ids = []
    rdds_before = len(spark.sparkContext._jsc.getPersistentRDDs())
    t_start = time.perf_counter()
    while True:
        pid = tracer.open(f"pass{len(pass_ids)}") if tracer else None
        for name in order:
            attempted += 1
            sid = tracer.open(f"queries.{name}") if tracer else None
            t0 = time.perf_counter()
            try:
                results[name] = queries[name].fn(spark, data).toPandas()
            except Exception:
                failed += 1
                results[name] = None
                traceback.print_exc(file=sys.stderr)
            walls[name].append(time.perf_counter() - t0)
            if tracer:
                tracer.close(sid)
                span_ids[name].append(sid)
        if tracer:
            tracer.close(pid)
            pass_ids.append(pid)
        if time.perf_counter() - t_start >= seconds:
            break
    timed_s = time.perf_counter() - t_start
    host = cpu.delta()
    rdds_left = len(spark.sparkContext._jsc.getPersistentRDDs()) - rdds_before

    from near_public_lakehouse_spark.testing.compare import duckdb_oracle

    con = duckdb_oracle(data)
    problems = []
    for name in MEMBERS:
        if results[name] is None:
            continue  # already counted as failed
        found = checks.query_problems(con, results[name], queries[name].oracle)
        if found:
            failed += 1
            problems.append(f"{name}: {found[:3]}")
    con.close()

    per_query = {n: median(w) for n, w in walls.items()}
    ops = list(per_query.values())
    res = {
        "spark": spark,
        "ops": ops,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "host": host,
        "timed_s": timed_s,
        "named_metrics": {
            "passes": len(walls[MEMBERS[0]]),
            "sql_total_s": sum(ops),
            "sql_geomean_s": geomean(ops),
            "query_wall_s": per_query,
            "order": order,
        },
        "layers": {},
        "tracer": tracer,
    }
    if tracer:
        res["layers"] = layer_metrics(tracer, span_ids, pass_ids, rdds_left)
    return res


def layer_metrics(tracer, span_ids, pass_ids, rdds_left) -> dict:
    tracer.attribute(tracer.stages())
    m: dict[str, float] = {}
    input_b = 0
    for name, sids in span_ids.items():
        spans = [tracer.spans[s] for s in sids]
        m[f"queries.{name}.wall_s"] = median([tracer.wall(s) for s in spans])
        m[f"queries.{name}.stages"] = median([s["stages"] for s in spans])
        m[f"queries.{name}.task_s"] = median([s["task_s"] for s in spans])
        m[f"queries.{name}.shuffle_mb"] = median([s["shuffle_b"] for s in spans]) / 2**20
        input_b += sum(s["input_b"] for s in spans)
    m["sources.tables.input_mb"] = input_b / len(pass_ids) / 2**20
    m["queries.cached_rdds_left"] = rdds_left
    m["trace.unattributed_s.pass"] = median(
        [tracer.wall(tracer.spans[p]) - sum(tracer.wall(c) for c in tracer.children(p))
         for p in pass_ids]
    )
    return m
