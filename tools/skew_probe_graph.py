#!/usr/bin/env python
"""Adversarial-skew probe for the graph trio (VERDICT r12 task #4).

SCALE.md pins the graph queries' per-round shape on the SHIPPED TPC-H-ish
graph, whose degree distribution is near-uniform; nothing measured what
happens on power-law degree — one supplier on 90% of all pairs
(`testing/skewed.skewed_graph`). This probe runs the TRUE production
round frames (`graph._pr_setup` / `_pr_rounds` / `_hits_half`) at two
sizes in three join regimes:

- bcast: the default session — AQE broadcasts the O(nodes) rank side, so
  the hot src key never shuffles. CLAIM: wall is flat in the skew (the
  production regime until state exceeds broadcast).
- smj: broadcast disabled (the state-exceeds-broadcast regime at toy
  bytes). AQE's byte heuristics are blind at probe scale, so the hot
  partition serializes into one task: max-task ~= wall is the measured
  cliff.
- smj_skewaqe: same regime with thresholds lowered to what the fixture's
  90% ROW skew weighs at real scale. CLAIM: `skew=true` appears and
  max-task drops toward wall/parallelism — the graph join's output is
  row-LINEAR in the hot key (each edge meets exactly one rank row), so
  unlike dedup's row-quadratic expansion the skew is byte-visible to AQE
  exactly where it hurts, and no salted-join wiring is needed.
- auto (r14, VERDICT r13 task #1): the production auto-pick —
  `_pr_setup`/`_hits_regimes` estimate the state frame's broadcast
  weight against the session threshold and either leave the round join
  unhinted (AQE broadcast) or merge-hint the state side. CLAIM: the
  auto row matches the best manual regime at both sizes (each JSON row
  records which regime it picked).

Outputs one JSON line per (algo, n, regime) plus derived exponents —
paste the table into SCALE.md.

Usage:  python tools/skew_probe_graph.py [--sizes 20000 80000]
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


from tools.probe_common import cpu_snapshot as _cpu_snapshot
from tools.probe_common import foreign_cores as _foreign_cores
from tools.probe_common import max_task_ms as _max_task_ms
from tools.probe_common import release_session_state as _release
from tools.probe_common import stage_snapshot

# what the fixture's ~90% row skew looks like to AQE at real scale,
# shrunk to probe bytes (same emulation discipline as skew_probe_dedup)
AQE_EMULATE_SCALE = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
}
NO_BCAST = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", type=int, nargs=2, default=[20000, 80000])
    ap.add_argument("--iters", type=int, default=4)
    ap.add_argument(
        "--runs",
        type=int,
        default=2,
        help="timed runs per (algo, size, regime) cell; MIN is reported. "
        "r14 probe hygiene: single-run cells on one long-lived session "
        "read 2-4x apart on identical code (accumulated broadcast/"
        "checkpoint blocks until GC) — min-of-N with a forced GC between "
        "runs is the comparable number.",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from near_public_lakehouse_spark.queries.graph import (
        _hits_half,
        _hits_regimes,
        _pr_rounds,
        _pr_setup,
    )
    from near_public_lakehouse_spark.session import get_spark
    from near_public_lakehouse_spark.testing.skewed import skewed_graph

    spark = get_spark("skew-probe-graph", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    results: list[dict] = []

    def with_confs(confs):
        prev = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        return prev

    def restore(prev):
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    for n_pairs in args.sizes:
        pairs = skewed_graph(spark, n_pairs).localCheckpoint()
        contrib, rank0, nn, pr_bc = _pr_setup(pairs)
        bi = pairs.select(
            F.col("a").alias("cust"), F.col("b").alias("supp"), "w"
        ).localCheckpoint()
        auth0 = bi.select(F.col("supp").alias("node")).distinct().select(
            "node", F.lit(1.0).alias("score")
        ).localCheckpoint()
        bc_auth, _bc_hub = _hits_regimes(bi)

        for regime, confs in (
            ("bcast", {}),
            ("auto", {}),
            ("smj", NO_BCAST),
            ("smj_skewaqe", NO_BCAST | AQE_EMULATE_SCALE),
        ):
            prev = with_confs(confs)
            try:
                if regime == "auto":
                    # production path: the auto-picked per-round strategy
                    # under the UNTOUCHED session confs
                    runs = (
                        (
                            "pagerank",
                            lambda: _pr_rounds(
                                contrib, rank0, nn, pr_bc, iters=args.iters
                            ).count(),
                            "bcast" if pr_bc else "smj",
                        ),
                        (
                            "hits_half",
                            lambda: _hits_half(
                                bi, auth0, "supp", "cust", bc_auth
                            ).count(),
                            "bcast" if bc_auth else "smj",
                        ),
                    )
                else:
                    runs = (
                        (
                            "pagerank",
                            lambda: _pr_rounds(
                                contrib, rank0, nn, iters=args.iters
                            ).count(),
                            None,
                        ),
                        (
                            "hits_half",
                            lambda: _hits_half(bi, auth0, "supp", "cust").count(),
                            None,
                        ),
                    )
                for algo, run, picked in runs:
                    best = None
                    walls = []
                    for _ in range(max(1, args.runs)):
                        _release(spark)
                        cpu0 = _cpu_snapshot()
                        before = stage_snapshot(spark)
                        t0 = time.monotonic()
                        out_rows = run()
                        wall = time.monotonic() - t0
                        mx, tot = _max_task_ms(spark, before)
                        fc = _foreign_cores(cpu0, _cpu_snapshot(), wall)
                        walls.append(round(wall, 2))
                        if best is None or wall < best["wall_s"]:
                            best = {
                                "algo": algo,
                                "n_pairs": n_pairs,
                                "regime": regime,
                                "rows": out_rows,
                                "wall_s": round(wall, 2),
                                "max_task_s": round(mx / 1e3, 2),
                                "task_total_s": round(tot / 1e3, 2),
                                "foreign_cores": round(fc, 2),
                            }
                    best["runs"] = walls
                    if picked is not None:
                        best["picked"] = picked
                    print(json.dumps(best), flush=True)
                    results.append(best)
            finally:
                restore(prev)

    n1, n2 = args.sizes
    lg = math.log(n2 / n1)
    for algo in ("pagerank", "hits_half"):
        for regime in ("bcast", "auto", "smj", "smj_skewaqe"):
            a = next(
                r
                for r in results
                if r["algo"] == algo and r["regime"] == regime and r["n_pairs"] == n1
            )
            b = next(
                r
                for r in results
                if r["algo"] == algo and r["regime"] == regime and r["n_pairs"] == n2
            )
            print(
                json.dumps(
                    {
                        "algo": algo,
                        "regime": regime,
                        "wall_exp": round(
                            math.log(max(b["wall_s"], 0.01) / max(a["wall_s"], 0.01))
                            / lg,
                            3,
                        ),
                        "max_task_exp": round(
                            math.log(
                                max(b["max_task_s"], 0.01)
                                / max(a["max_task_s"], 0.01)
                            )
                            / lg,
                            3,
                        ),
                        "straggler_ratio_big": round(
                            b["max_task_s"] / max(b["wall_s"], 0.01), 3
                        ),
                    }
                ),
                flush=True,
            )


if __name__ == "__main__":
    main()
