#!/usr/bin/env python
"""Adversarial-skew probe for the dedup candidate/verify pipeline
(VERDICT r11 task #5).

SCALE.md pins candidate growth ~O(n^1.004) on the SHIPPED corpus mix;
nothing pinned what happens when one pathological source holds 90% of the
corpus with colliding signatures. This probe measures exactly that, on
the TRUE production path (`adaptive_lsh._assignments_frame` /
`_adaptive_pairs`), at two sizes, in the two hostile regimes of
`testing/skewed.skewed_corpus`:

- identical: one (source, signature) group holds 90% of docs. CLAIM
  under test: the signature-group compression collapses the quadratic
  band join to ONE representative (hot key bounded); the surviving
  quadratic term is the member-pair OUTPUT, which the pair semantics
  require (every within-group pair is a true candidate).
- near: 90% of docs are one true near-dup family with fanned-out
  signatures -> hot BAND keys the group compression cannot collapse.
  The enumeration mass is inherently quadratic (they really are all
  near-dups); what must NOT happen is one task owning the whole hot
  band key. The probe records wall vs max-task time (straggler ratio)
  for the default (small/broadcast) path and the forced non-small
  path (shuffle verify, AQE-managed).

Outputs one JSON line per (regime, n, path) plus derived exponents —
paste the table into SCALE.md.

Usage:  python tools/skew_probe_dedup.py [--sizes 1500 6000]
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


from tools.probe_common import max_task_ms as _max_task_ms
from tools.probe_common import stage_snapshot

def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", type=int, nargs=2, default=[1500, 6000])
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from near_public_lakehouse_spark.queries import dedup as _dd
    from near_public_lakehouse_spark.queries.adaptive_lsh import (
        _adaptive_pairs,
        _assignments_frame,
    )
    from near_public_lakehouse_spark.queries.dedup import _sig_df, sig_key_col
    from near_public_lakehouse_spark.session import get_spark
    from near_public_lakehouse_spark.testing.skewed import skewed_corpus

    spark = get_spark("skew-probe", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    results: list[dict] = []

    for regime in ("identical", "near"):
        for n in args.sizes:
            docs = skewed_corpus(spark, n, regime).localCheckpoint()
            sigs = _sig_df(docs, "source")
            gstats = (
                sigs.withColumn("sk", sig_key_col())
                .groupBy("source", "sk")
                .count()
                .groupBy("source")
                .agg(
                    F.count("*").alias("n_groups"),
                    F.max("count").alias("max_group"),
                )
                .filter(F.col("source") == "hotsrc")
                .first()
            )
            rec = {
                "regime": regime,
                "n_docs": n,
                "hot_groups": int(gstats["n_groups"]),
                "hot_max_group": int(gstats["max_group"]),
            }
            # --- candidate stage alone
            before = stage_snapshot(spark)
            t0 = time.monotonic()
            rec["n_candidates"] = _adaptive_pairs(docs).count()
            rec["cand_wall_s"] = round(time.monotonic() - t0, 2)
            mx, tot = _max_task_ms(spark, before)
            rec["cand_max_task_s"] = round(mx / 1e3, 2)
            rec["cand_task_total_s"] = round(tot / 1e3, 2)
            # --- full assignments product, three verify regimes:
            # small (production local path), big (the 100 TB shuffle path
            # at toy byte sizes — AQE's byte-based skew split stays blind),
            # big_skewaqe (same path with thresholds lowered to what the
            # same ROW skew would look like in bytes at real scale).
            AQE_EMULATE_SCALE = {
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
                "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
            }
            for path, cap, confs in (
                ("small", 10**9, {}),
                ("big", 0, {}),
                ("big_skewaqe", 0, AQE_EMULATE_SCALE),
            ):
                saved = _dd.VERIFY_BROADCAST_MAX_REPS
                _dd.VERIFY_BROADCAST_MAX_REPS = cap
                prev_conf = {k: spark.conf.get(k) for k in confs}
                for k, v in confs.items():
                    spark.conf.set(k, v)
                try:
                    before = stage_snapshot(spark)
                    t0 = time.monotonic()
                    out = _assignments_frame(docs)
                    rows = out.collect()  # O(docs) by design; finalizes AQE
                    wall = time.monotonic() - t0
                finally:
                    _dd.VERIFY_BROADCAST_MAX_REPS = saved
                    for k, v in prev_conf.items():
                        spark.conf.set(k, v)
                assert len(rows) == n, (len(rows), n)
                keepers = sum(1 for r in rows if r["is_keeper"])
                mx, tot = _max_task_ms(spark, before)
                plan = out._jdf.queryExecution().executedPlan().toString()
                rec[f"{path}_wall_s"] = round(wall, 2)
                rec[f"{path}_max_task_s"] = round(mx / 1e3, 2)
                rec[f"{path}_task_total_s"] = round(tot / 1e3, 2)
                rec[f"{path}_skew_split"] = "skew=true" in plan
                rec[f"{path}_keepers"] = keepers
            print(json.dumps(rec), flush=True)
            results.append(rec)

    # exponents between the two sizes, per regime
    n1, n2 = args.sizes
    lg = math.log(n2 / n1)
    for regime in ("identical", "near"):
        a = next(r for r in results if r["regime"] == regime and r["n_docs"] == n1)
        b = next(r for r in results if r["regime"] == regime and r["n_docs"] == n2)
        def wexp(key: str) -> float:
            # sub-tick walls round to 0.0; clamp so a fast run prints the
            # table instead of dying in log()/division after the expensive
            # measurements completed
            return round(
                math.log(max(b[key], 0.01) / max(a[key], 0.01)) / lg, 3
            )

        exp = {
            "regime": regime,
            "cand_count_exp": round(
                math.log(max(b["n_candidates"], 1) / max(a["n_candidates"], 1)) / lg, 3
            ),
            "cand_wall_exp": wexp("cand_wall_s"),
            "small_wall_exp": wexp("small_wall_s"),
            "big_wall_exp": wexp("big_wall_s"),
            "big_skewaqe_wall_exp": wexp("big_skewaqe_wall_s"),
        }
        print(json.dumps(exp), flush=True)


if __name__ == "__main__":
    main()
