"""Lakehouse benchmark entry point.

    python3 perfbench/run.py --workload medallion_stream --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --selftest   # corrupted outputs must count as failed
    python3 perfbench/run.py --record     # re-record expected_medallion.json
    python3 perfbench/run.py --build      # build the per-checkout inputs (runs call it)

Prints a `summary {...}` line with the workload's own metric names
(wave_p50_s, sql_total_s, failed_ratio, host shape, ...) and,
as the last line, the result object whose metrics are the end-to-end set
of BENCHMARK.json (`--trace 0`) or its per-layer set (`--trace 1`).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common  # noqa: E402

WORKLOADS = ("medallion_stream", "sql_analytics")


def spec() -> dict:
    return json.loads((common.ROOT / "BENCHMARK.json").read_text())


def session_setup(shape, run_dir, traced, out: dict):
    """Closure the workloads call with their warm-up probe."""

    def setup(warm_up, samples=5):
        spark, walls, starts = common.timed_setups(shape, run_dir, traced, warm_up, samples)
        out.update(walls=walls, starts=starts)
        return spark

    return setup


def build() -> int:
    """Run the medallion backfill once per checkout and engine version
    (the first run's build step)."""
    common.import_engine()
    from perfbench import medallion

    if not medallion.cache_valid(common.run_path("medallion_stream")):
        shape = common.host_shape()
        run_dir = common.prepare_dirs("medallion_stream")
        res = medallion.build_backfill(session_setup(shape, run_dir, False, {}), run_dir)
        common.close_session(res["spark"])
        print(f"backfill of {medallion.BACKFILL_BLOCKS} blocks took {res['backfill_s']:.2f} s")
    return 0


def ensure_built() -> None:
    from perfbench import medallion

    if not medallion.cache_valid(common.run_path("medallion_stream")):
        # its own process, so this run's JVM starts exactly as cold as every other run's
        subprocess.run([sys.executable, __file__, "--build"], check=True,
                       stdout=sys.stderr, timeout=800)


def run_workload(args) -> int:
    traced = bool(args.trace)
    common.import_engine()
    ensure_built()
    from perfbench import medallion, sql
    from perfbench.trace import Tracer

    shape = common.host_shape()
    run_dir = common.prepare_dirs(args.workload)
    setup_info: dict = {}
    setup = session_setup(shape, run_dir, traced, setup_info)
    factory = Tracer if traced else None
    if args.workload == "medallion_stream":
        res = medallion.run(setup, args.seed, run_dir, factory)
    else:
        res = sql.run(setup, args.seed, args.seconds, factory)
    spark = res["spark"]
    import pyspark

    rss = common.jvm_peak_rss_mb()
    ops = res["ops"]
    setup_s = common.median(setup_info["walls"])
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {**shape, "spark_version": pyspark.__version__},
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "setup_samples_s": setup_info["walls"],
        "timed_s": res["timed_s"],
        "host_steal_s": res["host"]["steal_s"],
        "host_sys_s": res["host"]["sys_s"],
        "cpu_s": res["host"]["cpu_s"],
        "failed_ratio": res["failed"] / res["attempted"],
        "problems": res["problems"],
        **res["named_metrics"],
    }
    last = common.WORK / f"last-{args.workload}.json"
    if not traced:
        metrics = {
            "setup_s": (setup_s, "s"),
            "total_s": (sum(ops), "s"),
            "geomean_s": (common.geomean(ops), "s"),
        }
        last.write_text(json.dumps({"seed": args.seed, "total_s": sum(ops)}))
    else:
        layers = dict(res["layers"])
        layers["session.start_s"] = common.median(setup_info["starts"])
        layers["session.jvm_start_s"] = setup_info["starts"][0]
        layers["session.jvm_peak_rss_mb"] = rss
        layers["host.steal_s"] = res["host"]["steal_s"]
        layers["host.sys_s"] = res["host"]["sys_s"]
        layers["run.cpu_s"] = res["host"]["cpu_s"]
        layers["trace.total_s"] = sum(ops)
        # only an untraced run of the same seed did the same work
        prev = json.loads(last.read_text()) if last.exists() else {}
        untraced = prev.get("total_s") if prev.get("seed") == args.seed else None
        layers["trace.overhead_s"] = sum(ops) - untraced if untraced else 0.0
        summary["trace_overhead_vs"] = (
            f"untraced run of seed {args.seed}" if untraced else "no untraced run of this seed"
        )
        wanted = {m["name"]: m["unit"] for m in spec()["per_layer"]}
        unknown = sorted(set(layers) - set(wanted))
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        metrics = {n: (float(layers.get(n, 0.0)), u) for n, u in wanted.items()}
        trace_path = common.WORK / "traces" / f"{args.workload}-seed{args.seed}.json"
        summary["trace_file"] = str(trace_path.relative_to(common.ROOT))
        res["tracer"].write(trace_path, {"summary": summary, "layers": layers})
    common.close_session(spark)
    ok = res["failed"] == 0
    common.emit(summary, ok, res["attempted"], res["failed"], metrics)
    return 0


def selftest() -> int:
    """Tiny end-to-end check of the harness itself: a correct medallion
    refresh and a correct query result pass; a corrupted table and a
    corrupted query result are each counted as a failure."""
    common.import_engine()
    import pyarrow.parquet as pq

    from perfbench import checks
    from near_public_lakehouse_spark.plans.pipeline import run_batch, run_incremental
    from near_public_lakehouse_spark.queries import all_queries
    from near_public_lakehouse_spark.sources.fixtures import generate_fixtures
    from near_public_lakehouse_spark.testing.compare import duckdb_oracle

    shape = common.host_shape()
    run_dir = common.prepare_dirs("selftest")
    spark = common.start_session(shape, run_dir, traced=False)
    verdicts = {}
    try:
        raw, inc, bat = run_dir / "raw", run_dir / "inc", run_dir / "bat"
        counts = generate_fixtures(str(raw), n_blocks=4, n_shards=2)
        inc.mkdir()  # both refreshes need out_dir to exist (README, defect 1)
        bat.mkdir()
        run_incremental(spark, str(raw), str(inc), str(run_dir / "ckpt"))
        run_batch(spark, str(raw), str(bat))
        expected = checks.digest_tables(bat)
        clean = checks.medallion_problems(checks.digest_tables(inc), expected)
        clean += checks.silver_count_problems(checks.digest_tables(inc), counts)
        victim = sorted((inc / "public_actions").rglob("*.parquet"))[0]
        table = pq.read_table(victim)
        pq.write_table(table.slice(1), victim)  # drop one published row
        corrupt = checks.medallion_problems(checks.digest_tables(inc), expected)
        verdicts["medallion clean run passes"] = clean == []
        verdicts["corrupted medallion table is counted"] = (
            len(corrupt) == 1 and corrupt[0].startswith("public_actions")
        )

        data = str(common.TABLES)
        q = all_queries()["pricing_summary"]
        pdf = q.fn(spark, data).toPandas()
        con = duckdb_oracle(data)
        verdicts["query result matches oracle"] = checks.query_problems(con, pdf, q.oracle) == []
        wrong = pdf.copy()
        wrong.iloc[0, wrong.columns.get_loc("count_order")] += 1
        verdicts["wrong query result is counted"] = (
            checks.query_problems(con, wrong, q.oracle) != []
        )
        con.close()
    finally:
        common.close_session(spark)
    for k, v in verdicts.items():
        print(f"{'PASS' if v else 'FAIL'}  {k}")
    return 0 if all(verdicts.values()) else 1


def record() -> int:
    common.import_engine()
    from perfbench import checks, medallion

    shape = common.host_shape()
    run_dir = common.prepare_dirs("record")
    info: dict = {}
    res = medallion.record(session_setup(shape, run_dir, False, info), run_dir)
    common.close_session(res["spark"])
    checks.EXPECTED_MEDALLION.write_text(json.dumps(res["tables"], indent=1, sort_keys=True) + "\n")
    print(f"recorded final block counts {sorted(res['tables'])}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--build", action="store_true")
    args = ap.parse_args(argv)
    if args.build:
        return build()
    if args.selftest:
        return selftest()
    if args.record:
        return record()
    if not args.workload:
        ap.error("--workload is required")
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
