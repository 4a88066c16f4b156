#!/usr/bin/env python
"""Profile registry queries one at a time and print one JSON line each.

Usage:
    python tools/query_profile.py [--names a,b] [--runs 3] \
        [--sf-dir DIR] [--plans DIR]

Each run executes the query into the noop sink, as bench.py does, after
the between-run release. A line holds every run's wall, their min and
median, and for the last (warm) run: its jobs; the stage totals of
bench.py's `stage_metrics` (every stage id new since the snapshot taken
before that run); executor CPU; and its ten costliest stages by task
time. `--names` defaults to the bench set, `--sf-dir` to
$SPARK_GRAFT_SF_DIR. `--plans DIR` also writes each query's
`explain("formatted")` to DIR/<query>.txt.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import statistics
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from near_public_lakehouse_spark.queries import all_queries  # noqa: E402
from near_public_lakehouse_spark.session import get_spark  # noqa: E402
from tools.probe_common import (  # noqa: E402
    diff_stages,
    release_session_state,
    rest,
    stage_snapshot,
)


def profile(spark, name: str, fn, sf_dir: str, runs: int, plans: str | None) -> dict:
    walls = []
    for i in range(runs):
        release_session_state(spark)
        if i == runs - 1:
            jobs0 = {j["jobId"] for j in rest(spark, "jobs")}
            before = stage_snapshot(spark)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        walls.append(round(time.perf_counter() - t0, 3))
    jobs = [j for j in rest(spark, "jobs") if j["jobId"] not in jobs0]
    after = stage_snapshot(spark)
    new = sorted(
        ((sid, after[sid]) for sid in after.keys() - before.keys()),
        key=lambda kv: -kv[1]["task_time_ms"],
    )
    if plans:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        Path(plans, f"{name}.txt").write_text(buf.getvalue())
    return {
        "query": name,
        "runs_s": walls,
        "min_s": min(walls),
        "median_s": round(statistics.median(walls), 3),
        "n_jobs": len(jobs),
        **diff_stages(before, after),
        "cpu_s": round(sum(s["cpu_time_ns"] for _, s in new) / 1e9, 2),
        "top_stages": [
            {
                "stage": sid,
                "task_time_ms": s["task_time_ms"],
                "n_tasks": s["n_tasks"],
                "shuffle_read_mb": round(s["shuffle_read_bytes"] / 2**20, 2),
                "shuffle_write_mb": round(s["shuffle_write_bytes"] / 2**20, 2),
                "input_mb": round(s["input_bytes"] / 2**20, 2),
                "name": s["name"][:90],
            }
            for sid, s in new[:10]
        ],
    }


def main() -> None:
    sf_env = os.environ.get("SPARK_GRAFT_SF_DIR")
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", default="", help="comma-separated; default: the bench set")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=sf_env, required=sf_env is None)
    ap.add_argument("--plans", metavar="DIR", help="write explain('formatted') per query")
    args = ap.parse_args()

    queries = all_queries()
    names = [n.strip() for n in args.names.split(",") if n.strip()] or sorted(
        n for n, q in queries.items() if q.bench
    )
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    spark = get_spark(
        app_name="query_profile",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        rec = profile(spark, name, queries[name].fn, args.sf_dir, max(1, args.runs), args.plans)
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
