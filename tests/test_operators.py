"""Unit tests for the engine operators: MERGE upsert and SCD1 APPLY CHANGES
(sequence guard, IGNORE NULL UPDATES, out-of-order convergence)."""

from __future__ import annotations

import pytest

from near_public_lakehouse_spark.operators.merge import merge_upsert
from near_public_lakehouse_spark.operators.scd import apply_changes, latest_by


@pytest.fixture
def target(tmp_path):
    return str(tmp_path / "tbl")


def _rows(spark, path):
    return {
        r.k: (r.v, r.seq) for r in spark.read.parquet(path).collect()
    }


def test_merge_insert_and_update(spark, target):
    df1 = spark.createDataFrame([(1, "a", 10), (2, "b", 10)], "k int, v string, seq int")
    merge_upsert(spark, target, df1, ["k"])
    df2 = spark.createDataFrame([(2, "B", 20), (3, "c", 20)], "k int, v string, seq int")
    merge_upsert(spark, target, df2, ["k"])
    assert _rows(spark, target) == {1: ("a", 10), 2: ("B", 20), 3: ("c", 20)}


def test_merge_insert_only(spark, target):
    df1 = spark.createDataFrame([(1, "a", 1)], "k int, v string, seq int")
    merge_upsert(spark, target, df1, ["k"])
    df2 = spark.createDataFrame([(1, "X", 2), (2, "b", 2)], "k int, v string, seq int")
    merge_upsert(spark, target, df2, ["k"], when_matched_update=False)
    assert _rows(spark, target) == {1: ("a", 1), 2: ("b", 2)}


def test_merge_ignore_null_updates(spark, target):
    df1 = spark.createDataFrame([(1, "a", 1)], "k int, v string, seq int")
    merge_upsert(spark, target, df1, ["k"])
    df2 = spark.createDataFrame([(1, None, 2)], "k int, v string, seq int")
    merge_upsert(spark, target, df2, ["k"], ignore_null_updates=True)
    assert _rows(spark, target) == {1: ("a", 2)}


def test_scd_sequence_guard_rejects_stale(spark, target):
    apply_changes(
        spark,
        target,
        spark.createDataFrame([(1, "new", 100)], "k int, v string, seq int"),
        ["k"],
        "seq",
    )
    # stale update (seq 50 < stored 100) must NOT apply
    apply_changes(
        spark,
        target,
        spark.createDataFrame([(1, "old", 50)], "k int, v string, seq int"),
        ["k"],
        "seq",
    )
    assert _rows(spark, target) == {1: ("new", 100)}


def test_scd_out_of_order_batches_converge(spark, target):
    """Same rows split across batches in any order -> same final state
    (reference T7: SEQUENCE BY resolves out-of-order arrival)."""
    rows = [(1, "v1", 10), (1, "v3", 30), (1, "v2", 20), (2, "w2", 20), (2, "w1", 10)]
    batches = [rows[2:], rows[:2], rows[4:]]
    for b in batches:
        apply_changes(
            spark,
            target,
            spark.createDataFrame(b, "k int, v string, seq int"),
            ["k"],
            "seq",
        )
    assert _rows(spark, target) == {1: ("v3", 30), 2: ("w2", 20)}


def test_scd_ignore_null_updates_preserves_columns(spark, target):
    apply_changes(
        spark,
        target,
        spark.createDataFrame([(1, "a", "x", 10)], "k int, v string, w string, seq int"),
        ["k"],
        "seq",
    )
    apply_changes(
        spark,
        target,
        spark.createDataFrame([(1, None, "y", 20)], "k int, v string, w string, seq int"),
        ["k"],
        "seq",
        ignore_null_updates=True,
    )
    r = spark.read.parquet(target).collect()[0]
    assert (r.v, r.w, r.seq) == ("a", "y", 20)


def test_latest_by_argmax(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 5)], "k int, v string, seq int"
    )
    out = {r.k: r.v for r in latest_by(df, ["k"], "seq").collect()}
    assert out == {1: "b", 2: "c"}


def test_merge_partition_scoped(spark, target):
    """Partition-fenced MERGE: untouched partitions must survive."""
    df1 = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], "k int, v string, d string"
    )
    merge_upsert(spark, target, df1, ["k"], partition_col="d")
    df2 = spark.createDataFrame([(2, "B", "2024-01-02")], "k int, v string, d string")
    merge_upsert(spark, target, df2, ["k"], partition_col="d")
    # partition-dir values read back type-inferred (dates here)
    out = {r.k: (r.v, str(r.d)) for r in spark.read.parquet(target).collect()}
    assert out == {1: ("a", "2024-01-01"), 2: ("B", "2024-01-02")}


def test_merge_does_not_leak_partition_overwrite_conf(spark, target):
    """The round-1 implementation set partitionOverwriteMode=dynamic on the
    live session and never restored it; the rewrite must leave it alone."""
    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    df1 = spark.createDataFrame([(1, "a", "2024-01-01")], "k int, v string, d string")
    merge_upsert(spark, target, df1, ["k"], partition_col="d")
    merge_upsert(spark, target, df1, ["k"], partition_col="d")
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == before


def test_merge_null_key_rows_update_correctly(spark, target):
    """eqNullSafe join keys match legitimately-NULL keys; presence must be
    tracked by marker, not key nullability, or the update is dropped."""
    df1 = spark.createDataFrame([(None, "old", 1), (1, "a", 1)], "k int, v string, seq int")
    merge_upsert(spark, target, df1, ["k"])
    df2 = spark.createDataFrame([(None, "new", 2)], "k int, v string, seq int")
    merge_upsert(spark, target, df2, ["k"])
    out = {r.k: (r.v, r.seq) for r in spark.read.parquet(target).collect()}
    assert out == {None: ("new", 2), 1: ("a", 1)}


def test_scd_null_key_respects_sequence_guard(spark, target):
    """A NULL-keyed stored row must still reject stale updates (round-1 bug:
    keys[0].isNull() made src_wins unconditionally true for NULL keys)."""
    apply_changes(
        spark,
        target,
        spark.createDataFrame([(None, "new", 100)], "k int, v string, seq int"),
        ["k"],
        "seq",
    )
    apply_changes(
        spark,
        target,
        spark.createDataFrame([(None, "stale", 50)], "k int, v string, seq int"),
        ["k"],
        "seq",
    )
    assert _rows(spark, target) == {None: ("new", 100)}


def test_merge_partitioned_crash_leaves_partitions_intact(spark, target, monkeypatch):
    """Kill the swap after the first partition rename: every partition must
    still be fully-old or fully-new (crash-atomic per partition), and
    re-running the merge must converge to the final state."""
    import os as _os

    df1 = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02"), (3, "c", "2024-01-03")],
        "k int, v string, d string",
    )
    merge_upsert(spark, target, df1, ["k"], partition_col="d")
    df2 = spark.createDataFrame(
        [(2, "B", "2024-01-02"), (3, "C", "2024-01-03")], "k int, v string, d string"
    )

    real_rename = _os.rename
    calls = {"n": 0}

    def exploding_rename(src, dst):
        # allow parking the old partition + installing the first new one,
        # then die before the second partition's swap
        calls["n"] += 1
        if calls["n"] > 2:
            raise OSError("injected crash mid-swap")
        real_rename(src, dst)

    monkeypatch.setattr("near_public_lakehouse_spark.operators.merge.os.rename", exploding_rename)
    with pytest.raises(OSError, match="injected crash"):
        merge_upsert(spark, target, df2, ["k"], partition_col="d")
    monkeypatch.undo()

    # every partition readable and whole: d=01 untouched, d=02 fully new,
    # d=03 fully old (its swap never started)
    out = {r.k: (r.v, str(r.d)) for r in spark.read.parquet(target).collect()}
    assert out == {1: ("a", "2024-01-01"), 2: ("B", "2024-01-02"), 3: ("c", "2024-01-03")}

    # re-apply converges
    merge_upsert(spark, target, df2, ["k"], partition_col="d")
    out = {r.k: (r.v, str(r.d)) for r in spark.read.parquet(target).collect()}
    assert out == {1: ("a", "2024-01-01"), 2: ("B", "2024-01-02"), 3: ("C", "2024-01-03")}


def test_merge_crash_between_park_and_install_recovers(spark, target, monkeypatch):
    """Crash AFTER parking a live partition but BEFORE installing its
    replacement: the parked dir then holds the only copy of target rows
    absent from the source. The next merge must restore them before its
    cleanup, not rmtree the sole copy (round-2 ADVICE, merge.py:153)."""
    import os as _os

    df1 = spark.createDataFrame(
        [(2, "b", "2024-01-02"), (20, "keep-me", "2024-01-02")],
        "k int, v string, d string",
    )
    merge_upsert(spark, target, df1, ["k"], partition_col="d")
    # source updates k=2 only; k=20 exists only in the target
    df2 = spark.createDataFrame([(2, "B", "2024-01-02")], "k int, v string, d string")

    real_rename = _os.rename
    calls = {"n": 0}

    def exploding_rename(src, dst):
        calls["n"] += 1
        if calls["n"] > 1:  # allow the park, die before the install
            raise OSError("injected crash between park and install")
        real_rename(src, dst)

    monkeypatch.setattr("near_public_lakehouse_spark.operators.merge.os.rename", exploding_rename)
    with pytest.raises(OSError, match="injected crash"):
        merge_upsert(spark, target, df2, ["k"], partition_col="d")
    monkeypatch.undo()

    # re-apply: k=20 must survive (pre-fix it was permanently deleted)
    merge_upsert(spark, target, df2, ["k"], partition_col="d")
    out = {r.k: (r.v, str(r.d)) for r in spark.read.parquet(target).collect()}
    assert out == {2: ("B", "2024-01-02"), 20: ("keep-me", "2024-01-02")}


def test_merge_unpartitioned_crash_mid_swap_recovers(spark, target, monkeypatch):
    """Unpartitioned layout: crash between parking the target dir and
    installing the new one leaves table_exists()==False; the next merge
    must restore the parked copy instead of recreating from source alone."""
    import os as _os

    df1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "k int, v string, seq int")
    merge_upsert(spark, target, df1, ["k"])
    df2 = spark.createDataFrame([(2, "B", 2)], "k int, v string, seq int")

    real_rename = _os.rename
    calls = {"n": 0}

    def exploding_rename(src, dst):
        calls["n"] += 1
        if calls["n"] > 1:  # park the target, die before installing tmp
            raise OSError("injected crash between park and install")
        real_rename(src, dst)

    monkeypatch.setattr("near_public_lakehouse_spark.operators.merge.os.rename", exploding_rename)
    with pytest.raises(OSError, match="injected crash"):
        merge_upsert(spark, target, df2, ["k"])
    monkeypatch.undo()

    merge_upsert(spark, target, df2, ["k"])
    assert _rows(spark, target) == {1: ("a", 1), 2: ("B", 2)}


def test_merge_null_partition_value_preserved(spark, target):
    """A NULL partition value in the source must not delete the target's
    existing null-partition rows: isin() never matches NULL, so the fence
    needs an explicit isNull() branch (round-2 ADVICE, merge.py:67)."""
    df1 = spark.createDataFrame(
        [(1, "a", None), (10, "keep-me", None), (2, "b", "2024-01-02")],
        "k int, v string, d string",
    )
    merge_upsert(spark, target, df1, ["k"], partition_col="d")
    df2 = spark.createDataFrame([(1, "A", None)], "k int, v string, d string")
    merge_upsert(spark, target, df2, ["k"], partition_col="d")
    out = {
        r.k: (r.v, None if r.d is None else str(r.d))
        for r in spark.read.parquet(target).collect()
    }
    assert out == {
        1: ("A", None),
        10: ("keep-me", None),
        2: ("b", "2024-01-02"),
    }


# --- SCD Type 2 ------------------------------------------------------------


def _hist(spark, path, read=None):
    from near_public_lakehouse_spark.operators.scd import CURRENT_COL, END_COL, START_COL

    df = spark.read.parquet(path) if read is None else read(path)
    return sorted(
        ((r.k, r.v, r[START_COL], r[END_COL], r[CURRENT_COL]) for r in df.collect()),
        key=lambda t: (t[0], t[2]),
    )


def _scd2_store(spark, store):
    """(apply, read) of one SCD2 store: the parquet table
    (`apply_changes_scd2`) or the versioned manifest store
    (`versioned_scd2`). Both run the one shared rebuild."""
    from near_public_lakehouse_spark.operators import versioned as V
    from near_public_lakehouse_spark.operators.scd import apply_changes_scd2

    if store == "parquet":
        return apply_changes_scd2, spark.read.parquet
    return V.versioned_scd2, lambda path: V.read_version(spark, path)


# Every SCD2 store and layout: the late-change and drift tests run on each.
scd2_stores = pytest.mark.parametrize(
    "store,n_buckets",
    [("parquet", None), ("parquet", 4), ("versioned", None), ("versioned", 4)],
    ids=["parquet-flat", "parquet-bucketed", "versioned-flat", "versioned-bucketed"],
)


def test_scd2_builds_history(spark, target):
    from near_public_lakehouse_spark.operators.scd import apply_changes_scd2

    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (1, "b", 30), (2, "x", 10)],
        "k int, v string, seq int",
    )
    apply_changes_scd2(spark, target, df, ["k"], "seq")
    # (1,'b',30) is a no-op change (same tracked value) and must NOT open
    # a new version; (1,'a') closes at seq 20.
    assert _hist(spark, target) == [
        (1, "a", 10, 20, False),
        (1, "b", 20, None, True),
        (2, "x", 10, None, True),
    ]


def test_scd2_incremental_matches_single_batch(spark, target, tmp_path):
    from near_public_lakehouse_spark.operators.scd import apply_changes_scd2

    rows = [(1, "a", 10), (1, "b", 20), (1, "c", 30), (2, "x", 15), (2, "x", 25)]
    # one shot
    one = str(tmp_path / "one")
    apply_changes_scd2(
        spark, one, spark.createDataFrame(rows, "k int, v string, seq int"), ["k"], "seq"
    )
    # three incremental batches, out of order
    for batch in ([rows[2]], [rows[0], rows[4]], [rows[1], rows[3]]):
        apply_changes_scd2(
            spark,
            target,
            spark.createDataFrame(batch, "k int, v string, seq int"),
            ["k"],
            "seq",
        )
    assert _hist(spark, target) == _hist(spark, one)


def test_scd2_idempotent_reapply(spark, target):
    from near_public_lakehouse_spark.operators.scd import apply_changes_scd2

    df = spark.createDataFrame([(1, "a", 10), (1, "b", 20)], "k int, v string, seq int")
    apply_changes_scd2(spark, target, df, ["k"], "seq")
    before = _hist(spark, target)
    apply_changes_scd2(spark, target, df, ["k"], "seq")  # same batch again
    assert _hist(spark, target) == before


def test_scd2_null_tracked_values(spark, target):
    from near_public_lakehouse_spark.operators.scd import apply_changes_scd2

    df = spark.createDataFrame(
        [(1, None, 10), (1, None, 20), (1, "a", 30)], "k int, v string, seq int"
    )
    apply_changes_scd2(spark, target, df, ["k"], "seq")
    # NULL==NULL is a no-op change (eqNullSafe), NULL->'a' opens a version
    assert _hist(spark, target) == [
        (1, None, 10, 30, False),
        (1, "a", 30, None, True),
    ]


def test_scd2_stream_matches_batch(spark, target, tmp_path):
    from near_public_lakehouse_spark.operators.scd import scd2_stream

    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "x", 5)], "k int, v string, seq int"
    ).write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema("k int, v string, seq int").parquet(src_dir)
    qh = scd2_stream(stream, target, ["k"], "seq", str(tmp_path / "ckpt"))
    qh.awaitTermination(60)
    assert _hist(spark, target) == [
        (1, "a", 10, 20, False),
        (1, "b", 20, None, True),
        (2, "x", 5, None, True),
    ]


def test_scd2_bucketed_matches_unbucketed(spark, target, tmp_path):
    from near_public_lakehouse_spark.operators.scd import apply_changes_scd2

    rows = [(i, f"v{i % 3}", 10) for i in range(20)] + [(5, "w", 20), (7, "w", 20)]
    flat = str(tmp_path / "flat")
    for path, nb in ((flat, None), (target, 4)):
        for batch in (rows[:10], rows[10:]):
            apply_changes_scd2(
                spark,
                path,
                spark.createDataFrame(batch, "k int, v string, seq int"),
                ["k"],
                "seq",
                n_buckets=nb,
            )
    assert _hist(spark, target) == _hist(spark, flat)


def test_scd2_bucketed_touches_only_affected_partitions(spark, target):
    import os

    from near_public_lakehouse_spark.operators.scd import (
        BUCKET_COL,
        apply_changes_scd2,
        _bucket_of,
    )

    init = spark.createDataFrame(
        [(i, "a", 10) for i in range(64)], "k int, v string, seq int"
    )
    apply_changes_scd2(spark, target, init, ["k"], "seq", n_buckets=8)

    def part_files():
        out = {}
        for d in os.listdir(target):
            if d.startswith(f"{BUCKET_COL}="):
                pdir = os.path.join(target, d)
                out[d] = {
                    f: os.stat(os.path.join(pdir, f)).st_mtime_ns
                    for f in os.listdir(pdir)
                    if f.endswith(".parquet")
                }
        return out

    before = part_files()
    assert len(before) == 8  # 64 keys over 8 buckets: all present

    upd = spark.createDataFrame([(3, "b", 20)], "k int, v string, seq int")
    touched_bucket = upd.select(_bucket_of(["k"], 8).alias("b")).first().b
    apply_changes_scd2(spark, target, upd, ["k"], "seq", n_buckets=8)
    after = part_files()

    for d in before:
        if d == f"{BUCKET_COL}={touched_bucket}":
            assert before[d] != after[d]  # rebuilt
        else:
            assert before[d] == after[d]  # bytes never touched

    # and the update itself landed
    hist = {(r.k, r.v): r for r in spark.read.parquet(target).collect()}
    assert hist[(3, "b")]["__scd_current__"]


def test_scd2_stream_bucketed_touches_only_affected_partitions(spark, target, tmp_path):
    """Streaming mirror of the batch fencing test: scd2_stream must forward
    n_buckets so a micro-batch rewrites only the buckets its keys hash to —
    never the full history (the 100 TB hazard VERDICT r4 flagged)."""
    import os

    from near_public_lakehouse_spark.operators.scd import (
        BUCKET_COL,
        _bucket_of,
        apply_changes_scd2,
        scd2_stream,
    )

    init = spark.createDataFrame(
        [(i, "a", 10) for i in range(64)], "k int, v string, seq int"
    )
    apply_changes_scd2(spark, target, init, ["k"], "seq", n_buckets=8)

    def part_files():
        out = {}
        for d in os.listdir(target):
            if d.startswith(f"{BUCKET_COL}="):
                pdir = os.path.join(target, d)
                out[d] = {
                    f: os.stat(os.path.join(pdir, f)).st_mtime_ns
                    for f in os.listdir(pdir)
                    if f.endswith(".parquet")
                }
        return out

    before = part_files()
    assert len(before) == 8

    src_dir = str(tmp_path / "src")
    spark.createDataFrame([(3, "b", 20)], "k int, v string, seq int").write.mode(
        "overwrite"
    ).parquet(src_dir)
    touched_bucket = (
        spark.createDataFrame([(3,)], "k int").select(_bucket_of(["k"], 8).alias("b")).first().b
    )
    stream = spark.readStream.schema("k int, v string, seq int").parquet(src_dir)
    qh = scd2_stream(stream, target, ["k"], "seq", str(tmp_path / "ckpt"), n_buckets=8)
    qh.awaitTermination(60)
    after = part_files()

    for d in before:
        if d == f"{BUCKET_COL}={touched_bucket}":
            assert before[d] != after[d]  # rebuilt
        else:
            assert before[d] == after[d]  # bytes never touched

    hist = {(r.k, r.v): r for r in spark.read.parquet(target).collect()}
    assert hist[(3, "b")]["__scd_current__"]


def test_merge_unpartitioned_crash_after_install_no_duplicates(spark, target, monkeypatch):
    """Crash AFTER the new dir is installed but BEFORE the parked old dir
    is dropped: `_recover` must NOT move the stale loose part-files back
    in beside the replacement (old/new file names never collide, so the
    pre-fix per-name restore duplicated every pre-merge row). Control
    sidecars (e.g. `_delta_log`) ARE restored."""
    import os as _os
    import shutil as _shutil

    df1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "k int, v string, seq int")
    merge_upsert(spark, target, df1, ["k"])
    _os.makedirs(_os.path.join(target, "_delta_log"))
    with open(_os.path.join(target, "_delta_log", "00000000000000000000.json"), "w") as fh:
        fh.write("{}\n")
    df2 = spark.createDataFrame([(2, "B", 2)], "k int, v string, seq int")

    real_rmtree = _shutil.rmtree

    def exploding_rmtree(path, *a, **kw):
        if path.rstrip("/").endswith(".__old__") and _os.path.isdir(path):
            raise OSError("injected crash between install and cleanup")
        real_rmtree(path, *a, **kw)

    # shutil is imported function-locally in merge._rewrite — patch the
    # stdlib module attribute itself
    monkeypatch.setattr(_shutil, "rmtree", exploding_rmtree)
    with pytest.raises(OSError, match="injected crash"):
        merge_upsert(spark, target, df2, ["k"])
    monkeypatch.undo()

    # the swap carries _delta_log across BEFORE the (crashed) cleanup
    assert _os.path.isdir(_os.path.join(target, "_delta_log"))
    merge_upsert(spark, target, df2, ["k"])  # recovery + re-apply
    assert _rows(spark, target) == {1: ("a", 1), 2: ("B", 2)}
    assert _os.path.isdir(_os.path.join(target, "_delta_log"))


@scd2_stores
def test_scd2_late_change_splits_reaffirmed_run(spark, tmp_path, store, n_buckets):
    """THE r13 review scenario: {A@1 x, A@3 x} applied first (the seq-3
    reaffirmation is a no-op and opens no version), then a LATE {A@2 y}.
    Convergence demands the rebuilt history equal the all-at-once order:
    x [1,2), y [2,3), x [3,null) with current=x — the r12 form lost the
    reaffirmation and landed on current=y. Both stores, flat and
    bucketed: the versioned store's private rebuild used to drop the
    retained sequences and land on current=y."""
    apply, read = _scd2_store(spark, store)
    schema = "k int, v string, seq int"
    one = str(tmp_path / "one")
    target = str(tmp_path / "tbl")
    apply(
        spark,
        one,
        spark.createDataFrame([(1, "x", 1), (1, "y", 2), (1, "x", 3)], schema),
        ["k"],
        "seq",
        n_buckets=n_buckets,
    )
    apply(
        spark, target, spark.createDataFrame([(1, "x", 1), (1, "x", 3)], schema),
        ["k"], "seq", n_buckets=n_buckets,
    )
    # before the late row: one collapsed version, reaffirmation retained
    assert _hist(spark, target, read) == [(1, "x", 1, None, True)]
    apply(
        spark, target, spark.createDataFrame([(1, "y", 2)], schema), ["k"], "seq",
        n_buckets=n_buckets,
    )
    assert _hist(spark, target, read) == _hist(spark, one, read) == [
        (1, "x", 1, 2, False),
        (1, "y", 2, 3, False),
        (1, "x", 3, None, True),
    ]


@scd2_stores
def test_scd2_widened_feed_null_fills(spark, tmp_path, store, n_buckets):
    """A change feed with one more column than the stored history (a
    widened stream after a restart) null-fills the stored versions
    instead of failing the rebuild; keys the batch does not touch keep
    their history. The versioned store used to raise UNRESOLVED_COLUMN,
    and a bucketed apply rewrites every bucket rather than leave files
    without the column."""
    import glob
    import os

    import pyarrow.parquet as pq

    from near_public_lakehouse_spark.operators import versioned as V
    from near_public_lakehouse_spark.operators.scd import CURRENT_COL, END_COL, START_COL

    apply, read = _scd2_store(spark, store)
    target = str(tmp_path / "tbl")
    apply(
        spark,
        target,
        spark.createDataFrame(
            [(1, "x", 1), (2, "a", 1), (3, "c", 1)], "k int, v string, seq int"
        ),
        ["k"],
        "seq",
        n_buckets=n_buckets,
    )
    apply(
        spark,
        target,
        spark.createDataFrame([(1, "y", 2, "new")], "k int, v string, seq int, w string"),
        ["k"],
        "seq",
        n_buckets=n_buckets,
    )
    rows = sorted(
        (r.k, r.v, r.w, r[START_COL], r[END_COL], r[CURRENT_COL])
        for r in read(target).collect()
    )
    assert rows == [
        (1, "x", None, 1, 2, False),
        (1, "y", "new", 2, None, True),
        (2, "a", None, 1, None, True),
        (3, "c", None, 1, None, True),
    ]
    # Every live file carries the new column: a parquet read of mixed
    # files takes its schema from one of them, so a bucketed apply that
    # rewrote only the touched bucket could lose the column on read.
    live = (
        [os.path.join(target, f) for f in V.files_for_version(target)]
        if store == "versioned"
        else glob.glob(os.path.join(target, "**", "*.parquet"), recursive=True)
    )
    assert live and all("w" in pq.read_schema(f).names for f in live)


def test_scd1_null_stored_sequence_is_updatable(spark, target):
    """r13 review: a stored row with a NULL sequence must LOSE to any
    sequenced update — bare `s_seq >= NULL` is SQL NULL and made the row
    immortal."""
    from near_public_lakehouse_spark.operators.scd import apply_changes

    apply_changes(
        spark,
        target,
        spark.createDataFrame([(1, "old", None)], "k int, v string, seq int"),
        ["k"],
        "seq",
    )
    apply_changes(
        spark,
        target,
        spark.createDataFrame([(1, "new", 10)], "k int, v string, seq int"),
        ["k"],
        "seq",
    )
    rows = [(r.k, r.v, r.seq) for r in spark.read.parquet(target).collect()]
    assert rows == [(1, "new", 10)]


def test_latest_by_skips_map_typed_tiebreak(spark):
    """r13 review: ORDER BY on a map column raises — the tiebreak must
    skip unorderable types instead of making the operator unusable for
    tables with map metadata columns."""
    from near_public_lakehouse_spark.operators.scd import latest_by

    df = spark.createDataFrame(
        [(1, 10, {"a": "1"}, "x"), (1, 20, {"b": "2"}, "y")],
        "k int, seq int, meta map<string,string>, v string",
    )
    out = latest_by(df, ["k"], "seq").collect()
    assert len(out) == 1 and out[0].seq == 20 and out[0].v == "y"


def test_scd1_bucketed_matches_unbucketed(spark, target, tmp_path):
    """r13: SCD1 gains the key-hash bucketed layout SCD2 already had —
    batches touch only their keys' buckets; results identical to the
    flat layout (ignoring the internal bucket column)."""
    from near_public_lakehouse_spark.operators.scd import (
        BUCKET_COL,
        apply_changes,
    )

    rows = [(i, f"v{i % 3}", 10) for i in range(20)] + [(5, "w", 20), (7, "w", 20)]
    flat = str(tmp_path / "flat")
    for path, nb in ((flat, None), (target, 4)):
        for batch in (rows[:10], rows[10:]):
            apply_changes(
                spark,
                path,
                spark.createDataFrame(batch, "k int, v string, seq int"),
                ["k"],
                "seq",
                n_buckets=nb,
            )
    a = sorted((r.k, r.v, r.seq) for r in spark.read.parquet(flat).collect())
    b = sorted(
        (r.k, r.v, r.seq)
        for r in spark.read.parquet(target).drop(BUCKET_COL).collect()
    )
    assert a == b and len(b) == 20


def test_scd1_bucketed_touches_only_affected_partitions(spark, target):
    """One-key batch against a bucketed SCD1 table: untouched bucket
    dirs keep their files byte-for-byte (never opened or rewritten)."""
    import os

    from near_public_lakehouse_spark.operators.scd import (
        BUCKET_COL,
        apply_changes,
    )

    init = spark.createDataFrame(
        [(i, "a", 10) for i in range(64)], "k int, v string, seq int"
    )
    apply_changes(spark, target, init, ["k"], "seq", n_buckets=8)

    def part_files():
        out = {}
        for d in os.listdir(target):
            if d.startswith(f"{BUCKET_COL}="):
                pdir = os.path.join(target, d)
                out[d] = sorted(os.listdir(pdir))
        return out

    before = part_files()
    apply_changes(
        spark,
        target,
        spark.createDataFrame([(5, "w", 20)], "k int, v string, seq int"),
        ["k"],
        "seq",
        n_buckets=8,
    )
    after = part_files()
    changed = [d for d in before if before[d] != after.get(d)]
    assert len(changed) == 1  # exactly the touched bucket
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert got[5] == "w" and len(got) == 64


# --- one keyed-MERGE core: SEQUENCE BY guard and schema drift ---------------


def test_merge_upsert_sequence_guard(spark, target):
    """`merge_upsert(sequence_by=...)` is the SCD1 guard: a stale update
    loses, a stored NULL sequence loses to any update, and an EQUAL
    sequence wins (SEQUENCE BY is >=, so a replayed batch re-applies)."""
    schema = "k int, v string, seq int"
    merge_upsert(
        spark,
        target,
        spark.createDataFrame([(1, "a", 10), (2, "b", None), (3, "c", 30)], schema),
        ["k"],
    )
    merge_upsert(
        spark,
        target,
        spark.createDataFrame([(1, "stale", 5), (2, "B", 1), (3, "C", 30)], schema),
        ["k"],
        sequence_by="seq",
    )
    assert _rows(spark, target) == {1: ("a", 10), 2: ("B", 1), 3: ("C", 30)}


def test_merge_upsert_sequence_guard_ignore_null_updates(spark, target):
    """With the guard, IGNORE NULL UPDATES coalesces only for a winning
    source row; a stale row changes nothing, not even the target's NULLs."""
    schema = "k int, v string, w string, seq int"
    merge_upsert(
        spark, target, spark.createDataFrame([(1, "a", None, 10)], schema), ["k"]
    )
    merge_upsert(
        spark,
        target,
        spark.createDataFrame([(1, None, "stale", 5)], schema),
        ["k"],
        ignore_null_updates=True,
        sequence_by="seq",
    )
    r = spark.read.parquet(target).collect()[0]
    assert (r.v, r.w, r.seq) == ("a", None, 10)
    merge_upsert(
        spark,
        target,
        spark.createDataFrame([(1, None, "x", 20)], schema),
        ["k"],
        ignore_null_updates=True,
        sequence_by="seq",
    )
    r = spark.read.parquet(target).collect()[0]
    assert (r.v, r.w, r.seq) == ("a", "x", 20)


def test_merge_upsert_null_fills_drifted_schema(spark, target):
    """Schema drift in either direction null-fills (the sidecar policy)
    instead of failing analysis or dropping stored columns: a widened
    source adds a column NULL for the stored rows, and a narrowed source
    keeps the stored column, NULL for its new rows."""
    merge_upsert(
        spark,
        target,
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        ["k"],
    )
    # widened: the source carries `x`, the stored table does not
    merge_upsert(
        spark,
        target,
        spark.createDataFrame([(2, "B", 7), (3, "c", 8)], "k int, v string, x int"),
        ["k"],
    )
    got = {r.k: (r.v, r.x) for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a", None), 2: ("B", 7), 3: ("c", 8)}
    # narrowed: the source lacks `v`, the stored table keeps it
    merge_upsert(
        spark,
        target,
        spark.createDataFrame([(1, 5), (4, 6)], "k int, x int"),
        ["k"],
    )
    got = {r.k: (r.v, r.x) for r in spark.read.parquet(target).collect()}
    assert got == {1: (None, 5), 2: ("B", 7), 3: ("c", 8), 4: (None, 6)}


def test_scd1_ignore_null_updates_one_batch_equals_two(spark, tmp_path):
    """IGNORE NULL UPDATES inside one batch: an ADD (perm set) then a
    DELETE (perm NULL) of the same key must store the same row whether
    the two changes arrive in one batch or two — each column keeps its
    latest non-NULL value, the sequence is the max."""
    schema = "k int, active boolean, perm string, seq int"
    changes = [(1, True, "FULL_ACCESS", 1), (1, False, None, 2), (2, True, "FC", 1)]
    one, two = str(tmp_path / "one"), str(tmp_path / "two")

    def apply(path, rows):
        apply_changes(
            spark,
            path,
            spark.createDataFrame(rows, schema),
            ["k"],
            "seq",
            ignore_null_updates=True,
        )

    apply(one, changes)
    apply(two, changes[:1] + changes[2:])
    apply(two, changes[1:2])

    def rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    assert rows(one) == rows(two) == [(1, False, "FULL_ACCESS", 2), (2, True, "FC", 1)]


@pytest.mark.parametrize("n_buckets", [None, 4])
def test_scd1_ignore_null_updates_stale_change_supplies_nothing(spark, tmp_path, n_buckets):
    """A change older than the stored row is dropped before the in-batch
    per-column pick: stored X@5 plus one batch [OLD@3, NULL@7] stores
    X@7, as folding the two changes one at a time under the guard does
    (OLD@3 loses, NULL@7 wins and coalesces to the stored X)."""
    schema = "k int, perm string, seq int"
    path = str(tmp_path / "t")

    def apply(rows):
        apply_changes(
            spark,
            path,
            spark.createDataFrame(rows, schema),
            ["k"],
            "seq",
            ignore_null_updates=True,
            n_buckets=n_buckets,
        )

    apply([(1, "X", 5), (2, "Y", 5)])
    apply([(1, "OLD", 3), (1, None, 7), (2, "NEW", 6), (3, None, 1), (3, "Z", 0)])
    got = sorted((r.k, r.perm, r.seq) for r in spark.read.parquet(path).collect())
    assert got == [(1, "X", 7), (2, "NEW", 6), (3, "Z", 1)]


# --- one recorded schema per table: <table>/_schema.json ---------------------


def test_merge_partitioned_widened_source_null_fills_old_partitions(spark, target):
    """A widened source that touches only the last partition: `read_table`
    reads every partition under the recorded union, so the untouched
    partitions' rows come back with the new column NULL instead of the
    column vanishing with the file Spark would infer the schema from."""
    from near_public_lakehouse_spark.operators.merge import read_table

    merge_upsert(
        spark,
        target,
        spark.createDataFrame(
            [(1, "a", "2024-01-01"), (2, "b", "2024-01-02"), (3, "c", "2024-01-03")],
            "k int, v string, d string",
        ),
        ["k"],
        partition_col="d",
    )
    merge_upsert(
        spark,
        target,
        spark.createDataFrame([(3, "C", "2024-01-03", 7)], "k int, v string, d string, x int"),
        ["k"],
        partition_col="d",
    )
    got = read_table(spark, target)
    assert "x" in got.columns
    assert {r.k: (r.v, r.x, r.d) for r in got.collect()} == {
        1: ("a", None, "2024-01-01"),
        2: ("b", None, "2024-01-02"),
        3: ("C", 7, "2024-01-03"),
    }


def test_scd1_bucketed_widened_source_null_fills_old_buckets(spark, target):
    """`apply_changes(n_buckets=4)` with a one-key widened batch rewrites
    only that key's bucket; the other buckets read the new column as NULL
    through the recorded schema."""
    from near_public_lakehouse_spark.operators.merge import read_table
    from near_public_lakehouse_spark.operators.scd import _bucket_of

    init = spark.createDataFrame([(i, "a", 10) for i in range(20)], "k int, v string, seq int")
    apply_changes(spark, target, init, ["k"], "seq", n_buckets=4)
    # a key in the highest bucket, so the widened files are not the first
    # ones listed, which an inferring read would take its schema from
    by_bucket = {
        r.b: r.k for r in init.select("k", _bucket_of(["k"], 4).alias("b")).collect()
    }
    key = by_bucket[max(by_bucket)]
    apply_changes(
        spark,
        target,
        spark.createDataFrame([(key, "w", 20, 1.5)], "k int, v string, seq int, x double"),
        ["k"],
        "seq",
        n_buckets=4,
    )
    got = {r.k: (r.v, r.x) for r in read_table(spark, target).collect()}
    assert len(got) == 20 and got[key] == ("w", 1.5)
    assert all(got[k] == ("a", None) for k in got if k != key)


def test_runner_incremental_restores_parked_table_before_fold(spark, tmp_path):
    """Crash window of an unpartitioned stateful node: the table is parked
    as ``.__old__`` and the live dir is absent. The next `run_incremental`
    refresh restores it, then folds the new changes into it, and its
    recorded schema keeps the parked table's columns."""
    import os

    from near_public_lakehouse_spark.streaming.runner import Pipeline

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    pipe = Pipeline(spark, out)

    @pipe.table(
        "state",
        deps=["src"],
        partition_by=None,
        apply=lambda s, df, p: apply_changes(s, p, df, ["k"], "seq"),
    )
    def _state(s, inputs):
        return inputs["src"]

    def wave(rows, schema):
        df = spark.createDataFrame(rows, schema)
        pipe.run_incremental({"src": lambda s, streaming: df}, ckpt)

    wave([(1, "a", 1, "e1"), (2, "b", 1, "e2")], "k int, v string, seq int, extra string")
    live = pipe.path("state")
    os.rename(live, live + ".__old__")  # crash after parking, before install
    wave([(2, "B", 2), (3, "c", 2)], "k int, v string, seq int")
    assert not os.path.exists(live + ".__old__")
    got = {r.k: (r.v, r.seq, r.extra) for r in pipe.read("state").collect()}
    assert got == {1: ("a", 1, "e1"), 2: ("B", 2, None), 3: ("c", 2, None)}
