#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line as its FINAL output: {"metric": ..., "value": total_sec,
"unit": "sec", "core7_subtotal": sec, "queries": {name: median_sec},
"contended": [name, ...], "sf": ...} — sized to fit whole inside the
driver's 2000-char tail capture (BENCH_r13/r14 recorded "parsed": null
because the previous full-record line started mid-object in the tail).
The full record (per-run timings, spreads, stage metrics) is written to
the committed BENCH_LOCAL_r{N}.json twin.

Each query is timed $SPARK_GRAFT_BENCH_RUNS times (default 3); "queries"
holds the MEDIAN, "spread" the [min, max], "runs" every raw timing —
single-run numbers proved 2x-noisy round over round (cold vs warm
sessions), which made regression calls unresolvable. A query whose
max/min spread exceeds 3x gets one extra run and a
"contended": {name: {"contended": true, "min": sec}} entry, so
cold-start outliers are self-diagnosing in the JSON line.

Execution is forced with the noop sink (full pipeline runs, nothing is
collected to the driver) — the honest analog of writing results out.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from near_public_lakehouse_spark.queries import all_queries  # noqa: E402
from near_public_lakehouse_spark.session import get_spark  # noqa: E402
from tools.probe_common import (  # noqa: E402
    cpu_times,
    diff_stages,
    release_session_state,
    stage_snapshot,
)


def _steal_sys_s(before: dict | None, after: dict | None) -> list[float] | None:
    """[steal_s, sys_s] between two host CPU reads: the r15 contention
    root-cause evidence. During flagged outlier runs the guest measured
    ~220 s of STEAL and sys time exploding 32 -> 380 s (host co-tenant
    memory/CPU pressure) while user time stayed flat, proving the spread
    is environmental, not a plan change. Recording both per run makes the
    next anomaly adjudicable from the committed record alone."""
    if not (before and after):
        return None
    return [round(after[k] - before[k], 1) for k in ("steal", "system")]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    # The UI (REST status API) is the stage-metrics source; the engine
    # default keeps it off, bench turns it on for evidence.
    spark = get_spark(
        app_name="bench",
        extra_conf={
            "spark.ui.enabled": "true",
            # No console progress bars: a capture that merges stderr into
            # stdout (tools/close_round.py does; the driver's might) would
            # otherwise land a \r-prefixed bar on the same newline-
            # delimited line as the final compact JSON and break parsing.
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries = {n: q for n, q in sorted(all_queries().items()) if q.bench}
    # Warm the JVM/parquet footer caches with one untimed tiny pass.
    next(iter(queries.values())).fn(spark, sf_dir).limit(1).collect()

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    runs: dict[str, list[float]] = {}
    host_cpu: dict[str, list[list[float]]] = {}
    stage_metrics: dict[str, dict] = {}
    # Round-robin over the query set (run 1 of all, then run 2 of all...)
    # so per-query repeats are spread across the session's warmup curve
    # instead of all landing in the same thermal/JIT state back to back.
    for run_i in range(n_runs):
        for name, q in queries.items():
            before = stage_snapshot(spark) if run_i == n_runs - 1 else {}
            cpu0 = cpu_times()
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.setdefault(name, []).append(
                round(time.perf_counter() - t0, 3)
            )
            if host := _steal_sys_s(cpu0, cpu_times()):
                host_cpu.setdefault(name, []).append(host)
            if run_i == n_runs - 1:
                # Stage metrics from the LAST (warmest) run of each query:
                # new stage ids since the pre-run snapshot are this run's.
                after = stage_snapshot(spark)
                if after:
                    stage_metrics[name] = diff_stages(before, after)
            release_session_state(spark)

    # Contention self-diagnosis (VERDICT r10 task #3): a max/min spread
    # over 3x within one query's repeats is the cold-start/contention
    # signature that inflated BENCH_r10's graph medians (35 s outliers vs
    # 12 s isolated). Give each flagged query ONE extra run and report its
    # min alongside the median, so a future verdict can settle the
    # dispute from the JSON line instead of judge-side re-runs.
    flagged = sorted(
        n
        for n, xs in runs.items()
        if min(xs) > 0 and max(xs) / min(xs) > 3.0
    )
    for name in flagged:
        release_session_state(spark)
        cpu0 = cpu_times()
        t0 = time.perf_counter()
        queries[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs[name].append(round(time.perf_counter() - t0, 3))
        if host := _steal_sys_s(cpu0, cpu_times()):
            host_cpu.setdefault(name, []).append(host)

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else round((s[mid - 1] + s[mid]) / 2, 3)

    timings = {name: median(xs) for name, xs in runs.items()}
    contended = {name: {"contended": True, "min": min(runs[name])} for name in flagged}
    # The r1-comparable subset — the only set with a stable cross-round
    # baseline (BENCH_r01 predates the dedup headliners). Emitting it
    # separately makes round-over-round regression calls resolvable
    # without hand-arithmetic (VERDICT r6 task #8 / r7 task #5).
    core7 = [
        "pricing_summary",
        "top_revenue_orders",
        "regional_supplier_revenue",
        "returned_item_customers",
        "daily_active_users",
        "corpus_prep",
        "embedding_topk_cosine",
    ]
    # Driver-window rotation renames queries to aN_<name>; the subtotal
    # must keep matching its ORGANIC members or a rotation round silently
    # deflates core7 (r12: four members rotated to a12_*). Strip the
    # alias prefix for the lookup only — reported names stay as-is.
    organic = {re.sub(r"^a\d+_", "", n): t for n, t in timings.items()}
    summary = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "core7_subtotal": round(
            sum(organic[n] for n in core7 if n in organic), 3
        ),
        "queries": timings,
        # per-query MIN alongside the median (r16, VERDICT r15 item 8 —
        # additions-only): the r15 steal analysis showed medians can be
        # polluted by host co-tenant pressure while minima stay stable,
        # so regression calls are adjudicable from the compact line.
        "queries_min": {n: min(xs) for n, xs in runs.items()},
        "contended": sorted(contended),
        "sf": sf,
    }
    line = json.dumps(
        {
            **summary,
            "contended": contended,
            "spread": {n: [min(xs), max(xs)] for n, xs in runs.items()},
            "runs": runs,
            # per-run [steal_s, sys_s] of the host CPU: host co-tenant
            # pressure evidence (r15 — steal ~220 s / sys 32->380 s
            # during outlier runs with user time flat)
            "host_steal_sys_s": host_cpu,
            "stage_metrics": stage_metrics,
        }
    )
    # stdout carries ONLY the compact summary, as the FINAL line: the
    # driver keeps the last 2000 chars of output, and the full record
    # (spread/runs/stage_metrics) is long enough that the tail started
    # mid-object — BENCH_r13/r14.json both recorded "parsed": null
    # (VERDICT r14 task #3). The full record is the committed
    # BENCH_LOCAL_r{N}.json twin; the compact line keeps the driver
    # contract fields (metric/value/unit/queries/sf) plus core7 and the
    # contended flags, and is sized to fit the tail buffer whole.
    compact = json.dumps(summary)
    if len(compact) > 1900:  # never let per-query growth re-truncate it
        # shed the r16 min-addendum first — the driver contract's
        # `queries` field is the last thing to shrink
        summary.pop("queries_min", None)
        summary["queries_min_see"] = "BENCH_LOCAL"
        compact = json.dumps(summary)
    if len(compact) > 1900:
        summary["queries"] = {
            n: t for n, t in timings.items() if re.sub(r"^a\d+_", "", n) in core7
        }
        summary["queries_truncated_see"] = "BENCH_LOCAL"
        compact = json.dumps(summary)
    # Persist the full line in-repo: the driver's BENCH_r{N}.json capture
    # is tail-truncated, so the committed twin is the durable record
    # (VERDICT r9 task #6). Round number: explicit env override, else one
    # past the newest driver BENCH_r{N}.json (the driver runs bench
    # before writing round N's).
    try:
        rnd = os.environ.get("SPARK_GRAFT_ROUND")
        if rnd is None:
            recorded = [
                int(m.group(1))
                for f in Path(_REPO).glob("BENCH_r*.json")
                if (m := re.match(r"BENCH_r(\d+)\.json$", f.name))
            ]
            rnd = f"{max(recorded, default=0) + 1:02d}"
        (Path(_REPO) / f"BENCH_LOCAL_r{int(rnd):02d}.json").write_text(line + "\n")
    except OSError:
        pass  # read-only checkout: stdout contract already satisfied
    print(compact)


if __name__ == "__main__":
    main()
