"""Profile the full query registry: per-query wall time + row count at one
scale factor, plus the strict-harness result hash at sf0.01 (comparable
across rounds — see testing/compare.result_hash).

Usage:
    python tools/profile_registry.py [--sf-dir /root/testdata/sf0.1] \
        [--hash-sf-dir /root/testdata/sf0.01] [--out PROFILE_r02.md]

Timing counts the full query build + collect (driver-equivalent work);
each query runs once — this is a profiling sweep, not a steady-state
benchmark (bench.py is that).

Contention flag (VERDICT r13 task #4): PROFILE_r13's timing column was
polluted by a concurrently-running gate runner (unchanged queries read
1.5-2.3x slower at identical plans/hashes), which is exactly the noise
that hides the next real regression. The sweep can't multi-run like
bench.py, so each query instead measures FOREIGN CPU: system-wide busy
CPU seconds minus this process tree's CPU seconds over the query's wall
window (`tools/probe_common.foreign_cores`). More than half an external
core on average flags the row `contended` with the foreign-core figure,
so a polluted timing column is self-diagnosing in both the JSONL stream
and the markdown table.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import SparkSession  # noqa: E402

from tools.probe_common import cpu_snapshot as _cpu_snapshot  # noqa: E402
from tools.probe_common import foreign_cores as _foreign_cores  # noqa: E402
from tools.probe_common import release_session_state  # noqa: E402

FOREIGN_CORES_FLAG = 0.5  # avg external cores during the query => contended


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--hash-sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="PROFILE_r02.md")
    ap.add_argument("--skip-hashes", action="store_true")
    ap.add_argument(
        "--audit",
        action="store_true",
        help="also TIME the full-grade eval queries (tagged 'eval' without "
        "'sampled') at --sf-dir; by default they are profile-skipped — "
        "their _sampled twins carry the routine health check and their "
        "sf0.01 result hashes are still recorded (VERDICT r12 task #7)",
    )
    args = ap.parse_args()

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )

    from near_public_lakehouse_spark.queries import all_queries
    from near_public_lakehouse_spark.testing.compare import result_hash

    queries = all_queries()
    timings: list[dict] = []
    for name in sorted(queries):
        q = queries[name]
        if not args.audit and "eval" in q.tags and "sampled" not in q.tags:
            # audit-grade full-product measurement queries: the _sampled
            # twins carry the routine per-round profile; the full-grade
            # versions stay registry-reachable (and sf0.01-hash-checked
            # below) but only ride the sweep under --audit.
            rec = {"name": name, "sec": None, "rows": None,
                   "skipped": "audit-grade (run with --audit; sampled twin profiles)"}
            timings.append(rec)
            print(json.dumps(rec), flush=True)
            continue
        cpu0 = _cpu_snapshot()
        t0 = time.monotonic()
        df = rows = None
        try:
            df = q.fn(spark, args.sf_dir)
            rows = df.collect()
            dt = time.monotonic() - t0
            rec = {"name": name, "sec": round(dt, 3), "rows": len(rows)}
            fc = _foreign_cores(cpu0, _cpu_snapshot(), dt)
            if fc > FOREIGN_CORES_FLAG:
                rec["contended"] = True
                rec["foreign_cores"] = round(fc, 2)
        except Exception as exc:  # keep sweeping; a failure is a finding
            rec = {"name": name, "sec": None, "rows": None, "err": str(exc)[:200]}
        timings.append(rec)
        print(json.dumps(rec), flush=True)
        # Round-6 finding: accumulated session state (localCheckpoint RDD
        # blocks held until driver-side GC, shuffle files, JVM heap
        # pressure) inflates later queries' sweep times — r5's
        # minhash_lsh_candidates read 67.9 s in-sweep vs 32.8-42 s
        # isolated, same code. Dropping the Python references before the
        # release lets the ContextCleaner free checkpointed blocks and
        # keeps sweep numbers comparable to isolated runs.
        df = rows = None
        release_session_state(spark)

    hashes: dict[str, dict] = {}
    if not args.skip_hashes:
        for name in sorted(queries):
            q = queries[name]
            try:
                df = q.fn(spark, args.hash_sf_dir)
                rows = [tuple(r) for r in df.collect()]
                hashes[name] = {
                    "rows": len(rows),
                    "hash": result_hash(df.columns, rows),
                }
            except Exception as exc:
                hashes[name] = {"rows": None, "hash": None, "err": str(exc)[:200]}
            print(name, hashes[name], flush=True)

    ok = [t for t in timings if t["sec"] is not None]
    skipped = [t for t in timings if t.get("skipped")]
    errors = len(timings) - len(ok) - len(skipped)
    slowest = sorted(ok, key=lambda t: -t["sec"])[:10]
    with open(args.out, "w") as f:
        f.write(f"# Registry profile — {len(queries)} queries\n\n")
        f.write(f"Scale: `{args.sf_dir}` on local[32]; one run per query "
                f"(build + collect).\n\n")
        contended = [t for t in ok if t.get("contended")]
        f.write(f"Total: {sum(t['sec'] for t in ok):.1f} s over {len(ok)} queries; "
                f"{errors} errors; {len(skipped)} audit-grade eval queries "
                f"timing-skipped (sampled twins profile them; sf0.01 hashes "
                f"below still cover them; re-include with --audit); "
                f"{len(contended)} timings CONTENDED (> {FOREIGN_CORES_FLAG} "
                f"avg external cores during the query — treat those wall "
                f"times as noise; hashes are unaffected).\n\n")
        f.write("## Top 10 slowest (sf0.1)\n\n| query | sec | rows |\n|---|---|---|\n")
        for t in slowest:
            f.write(f"| {t['name']} | {t['sec']} | {t['rows']} |\n")
        f.write("\n## All timings (sf0.1)\n\n| query | sec | rows | contended |\n|---|---|---|---|\n")
        for t in timings:
            fc = f"yes ({t['foreign_cores']} cores)" if t.get("contended") else ""
            f.write(f"| {t['name']} | {t['sec']} | {t['rows']} | {fc} |\n")
        if hashes:
            f.write("\n## Strict-harness result hashes (sf0.01)\n\n")
            f.write("Canonical md5 over (sorted columns, canonicalized sorted rows) —\n")
            f.write("`testing/compare.result_hash`. Diff these across rounds to catch\n")
            f.write("silent result drift.\n\n| query | rows | hash |\n|---|---|---|\n")
            for name in sorted(hashes):
                h = hashes[name]
                f.write(f"| {name} | {h['rows']} | {h.get('hash')} |\n")
    print("wrote", args.out)


if __name__ == "__main__":
    main()
