#!/usr/bin/env python
"""Merge-regime layout probe (r16, VERDICT r15 item 2): sf0.1 graphs
always broadcast, so the per-round SMJ cost that `_merge_layout` removes
is only measurable on a synthetic graph whose O(nodes) state exceeds the
broadcast threshold. This builds a deterministic N-pair pseudo-random
graph (~N distinct nodes -> state ≫ 10 MB for N >= 2M), runs the REAL
iteration frames (`_pr_setup`/`_pr_rounds`, `_bfs_rounds`,
`dedup._min_label_cc`) with the layout ON (HEAD) and OFF (monkeypatched
identity), and prints walls + stage shuffle evidence.

Usage:
    python tools/merge_probe.py [--pairs 4000000] [--iters 5] [--runs 2]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from near_public_lakehouse_spark.session import get_spark  # noqa: E402
from tools.probe_common import diff_stages, stage_snapshot  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pairs", type=int, default=4_000_000)
    ap.add_argument("--iters", type=int, default=5)
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    spark = get_spark(
        app_name="merge_probe",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    import near_public_lakehouse_spark.queries.graph as G
    import near_public_lakehouse_spark.queries.dedup as D

    N = args.pairs
    # deterministic pseudo-random bipartite-ish pair list; ~N distinct
    # nodes total so the (id, value) state is far past the broadcast
    # threshold -> every regime pick lands in MERGE
    pairs = spark.range(N).select(
        F.col("id").alias("a"),
        (((F.col("id") * 2654435761) % N) + N).alias("b"),
        F.lit(1.0).alias("w"),
    )

    real_layout = G._merge_layout
    plain_layout = lambda edges, key, n_rows: edges  # noqa: E731

    def pr_run():
        # NOTE: the r16 A/B this probe recorded REJECTED the PR layout
        # (wall 33 -> 36-49 s, shuffle 606 -> 855 MB: AQE already
        # pipelines PR's cadence-5 round chains), so `_pr_setup` no
        # longer routes through `_merge_layout` and both modes measure
        # the kept plain path here. Re-add the branch in `_pr_setup` to
        # reproduce the rejected variant.
        contrib, rank, n, bcast = G._pr_setup(pairs)
        assert not bcast, "probe graph unexpectedly broadcastable"
        out = G._pr_rounds(contrib, rank, n, bcast, iters=args.iters)
        out.write.format("noop").mode("overwrite").save()
        if hasattr(contrib, "unpersist"):
            contrib.unpersist()

    def bfs_run():
        pc = pairs.localCheckpoint(eager=False)
        edges = (
            pc.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionByName(pc.select(F.col("b").alias("src"), F.col("a").alias("dst")))
            .localCheckpoint()
        )
        edges2 = G._merge_layout(edges, "src", N * 2)
        dist = G.inline_rows_df(
            spark, [(0, 0)], [("node", "bigint"), ("hops", "bigint")]
        )
        G._bfs_rounds(edges2, dist, iters=args.iters, broadcast_state=False).write.format(
            "noop"
        ).mode("overwrite").save()
        edges2.unpersist()

    def cc_run():
        # the CC engine takes (doc_a, doc_b); cap rounds via the edge set
        # size (min-label converges in O(log n) with doubling)
        D._min_label_cc(
            pairs.select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        ).write.format("noop").mode("overwrite").save()

    jobs = [("pagerank", pr_run), ("bfs", bfs_run), ("min_label_cc", cc_run)]
    for mode, lay in (("layout", real_layout), ("plain", plain_layout)):
        G._merge_layout = lay
        for name, fn in jobs:
            for run_i in range(args.runs):
                st0 = stage_snapshot(spark)
                spark.sparkContext.setJobDescription(f"{name} {mode} run{run_i}")
                t0 = time.perf_counter()
                fn()
                wall = time.perf_counter() - t0
                d = diff_stages(st0, stage_snapshot(spark))
                print(
                    f"{name:13s} {mode:6s} run{run_i}: wall={wall:7.2f}s "
                    f"stages={d['n_stages']:3d} "
                    f"task_time={d['task_time_ms'] / 1000:7.1f}s "
                    f"shuffle_write={d['shuffle_write_mb']:8.1f}MB",
                    flush=True,
                )
    G._merge_layout = real_layout


if __name__ == "__main__":
    main()
