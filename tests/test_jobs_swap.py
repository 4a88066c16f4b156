"""Crash recovery of the streaming folds' parked dirs. The folds and
`expire_pending` replace their pending/state dirs with the MERGE core's
swap (`merge._rewrite`: park the live dir at ``.__old__``, install the
new one); a crash between park and install leaves the parked copy as
the only one, and the next call re-installs it (`merge._recover`) and
ends where an uncrashed run ends."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from near_public_lakehouse_spark.streaming import jobs


def _crash_on_rename(monkeypatch, n: int) -> None:
    """Make the n-th os.rename of the swap raise (renames 1 and 2 of one
    swap park the live dir and install the new one)."""
    real_rename = os.rename
    calls = {"n": 0}

    def rename(src, dst):
        calls["n"] += 1
        if calls["n"] == n:
            raise OSError("injected crash between park and install")
        real_rename(src, dst)

    monkeypatch.setattr("near_public_lakehouse_spark.operators.merge.os.rename", rename)


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def test_expire_pending_crash_mid_swap_recovers(spark, tmp_path, monkeypatch):
    parked = spark.createDataFrame(
        [(f"2024-01-0{d}", d) for d in range(1, 6)], "block_date string, n int"
    ).withColumn("block_date", F.col("block_date").cast("date"))
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    parked.write.parquet(clean)
    parked.write.parquet(crashed)

    assert jobs.expire_pending(spark, clean, "block_date", "2024-01-05", 2) == 2

    _crash_on_rename(monkeypatch, 2)
    with pytest.raises(OSError, match="injected crash"):
        jobs.expire_pending(spark, crashed, "block_date", "2024-01-05", 2)
    monkeypatch.undo()
    assert not os.path.isdir(crashed) and os.path.isdir(crashed + ".__old__")

    assert jobs.expire_pending(spark, crashed, "block_date", "2024-01-05", 2) == 2
    assert _rows(spark, crashed) == _rows(spark, clean)
    assert [r[1] for r in _rows(spark, clean)] == [3, 4, 5]
    assert not os.path.exists(crashed + ".__old__")


def test_balances_fold_crash_mid_pending_swap_recovers(spark, tmp_path, monkeypatch):
    schema = "affected_account_id string, block_height int, block_date string"

    def changes(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "block_date", F.col("block_date").cast("date")
        )

    first = [("a", 1, "2024-01-01"), ("b", 2, "2024-01-02"), ("c", 9, "2024-01-09")]
    second = [("a", 3, "2024-01-03"), ("d", 8, "2024-01-08")]
    dirs = {}
    for run in ("clean", "crashed"):
        state, pending = str(tmp_path / run / "state"), str(tmp_path / run / "pending")
        dirs[run] = (state, pending)
        jobs._fold_balances_batch(spark, changes(first), state, "2024-01-05", pending)

    state, pending = dirs["clean"]
    jobs._fold_balances_batch(spark, changes(second), state, "2024-01-05", pending)

    # renames 1-2 swap the state dir; rename 4 would install the new pending
    state, pending = dirs["crashed"]
    _crash_on_rename(monkeypatch, 4)
    with pytest.raises(OSError, match="injected crash"):
        jobs._fold_balances_batch(spark, changes(second), state, "2024-01-05", pending)
    monkeypatch.undo()
    assert not os.path.isdir(pending) and os.path.isdir(pending + ".__old__")

    # foreachBatch replays the batch: the state fold is a fixpoint and the
    # pending dir comes back from its parked copy
    jobs._fold_balances_batch(spark, changes(second), state, "2024-01-05", pending)
    for clean_dir, crashed_dir in zip(dirs["clean"], dirs["crashed"]):
        assert _rows(spark, crashed_dir) == _rows(spark, clean_dir)
    assert [r[0] for r in _rows(spark, dirs["clean"][1])] == ["c", "d"]
    assert not os.path.exists(pending + ".__old__")
