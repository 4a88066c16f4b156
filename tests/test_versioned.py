"""Versioned parquet tables (operators/versioned.py): atomic commits,
optimistic concurrency, time travel, vacuum, and the MERGE integration —
the transactional contract the reference gets from Delta (SURVEY §2.14),
expressed as a manifest log over plain parquet."""

from __future__ import annotations

import os

import pytest

from near_public_lakehouse_spark.operators import versioned as V

pytestmark = pytest.mark.slow  # r16 two-lane suite: close_round runs the full lane



def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def _rows(df):
    return sorted((r.k, r.v) for r in df.collect())


def test_overwrite_append_and_latest(spark, tmp_path):
    t = str(tmp_path / "t")
    assert V.commit_overwrite(_df(spark, [(1, "a")]), t) == 0
    assert V.commit_append(_df(spark, [(2, "b")]), t) == 1
    assert _rows(V.read_version(spark, t)) == [(1, "a"), (2, "b")]
    assert V.latest_version(t) == 1


def test_time_travel_snapshots_are_immutable(spark, tmp_path):
    t = str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a")]), t)
    V.commit_append(_df(spark, [(2, "b")]), t)
    V.commit_overwrite(_df(spark, [(9, "z")]), t)
    assert _rows(V.read_version(spark, t, 0)) == [(1, "a")]
    assert _rows(V.read_version(spark, t, 1)) == [(1, "a"), (2, "b")]
    assert _rows(V.read_version(spark, t, 2)) == [(9, "z")]
    assert _rows(V.read_version(spark, t)) == [(9, "z")]


def test_history_lists_newest_first(spark, tmp_path):
    t = str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a")]), t)
    V.commit_append(_df(spark, [(2, "b")]), t)
    h = V.history(t)
    assert [(e["version"], e["operation"]) for e in h] == [(1, "append"), (0, "overwrite")]
    assert all(e["n_files"] >= 1 for e in h)


def test_missing_version_raises(spark, tmp_path):
    t = str(tmp_path / "t")
    with pytest.raises(FileNotFoundError):
        V.read_version(spark, t)
    V.commit_overwrite(_df(spark, [(1, "a")]), t)
    with pytest.raises(FileNotFoundError):
        V.read_version(spark, t, 5)


def test_commit_conflict_retries_to_next_version(spark, tmp_path):
    """Simulate a racing writer by pre-publishing the version the append
    would take; the append must land one version later with both rows
    visible."""
    t = str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a")]), t)
    # Racing writer grabs version 1 out from under the append.
    V._publish(
        t,
        1,
        {
            "version": 1,
            "operation": "overwrite",
            "timestamp": 0.0,
            "files": V._read_manifest(t, 0)["files"],
            "schema": V._read_manifest(t, 0)["schema"],
        },
    )
    v = V.commit_append(_df(spark, [(2, "b")]), t)
    assert v == 2
    assert _rows(V.read_version(spark, t)) == [(1, "a"), (2, "b")]


def test_publish_is_create_exclusive(spark, tmp_path):
    t = str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a")]), t)
    with pytest.raises(V.CommitConflict):
        V._publish(t, 0, {"version": 0, "operation": "x", "timestamp": 0, "files": [], "schema": "{}"})


def test_orphaned_data_is_invisible_and_vacuumed(spark, tmp_path):
    """A crash between data write and manifest publish leaves an orphan
    commit dir: readers never see it, vacuum reclaims it."""
    t = str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a")]), t)
    V._write_data(_df(spark, [(99, "crash")]), t)  # no manifest => orphan
    assert _rows(V.read_version(spark, t)) == [(1, "a")]
    # r14: a FRESH unreferenced dir is inside the in-flight retention
    # window (it could be a live writer's commit-in-progress) — the
    # default vacuum must spare it; min_age_seconds=0 is the explicit
    # "no writer is live" crash cleanup.
    assert V.vacuum(t, retain_last=1) == []
    removed = V.vacuum(t, retain_last=1, min_age_seconds=0)
    assert removed  # the orphan's files
    assert _rows(V.read_version(spark, t)) == [(1, "a")]


def test_vacuum_drops_old_versions_keeps_history(spark, tmp_path):
    t = str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a")]), t)
    V.commit_overwrite(_df(spark, [(2, "b")]), t)
    V.commit_overwrite(_df(spark, [(3, "c")]), t)
    removed = V.vacuum(t, retain_last=1)
    assert removed  # v0+v1 files gone
    assert _rows(V.read_version(spark, t)) == [(3, "c")]
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        V.read_version(spark, t, 0)
    # History (the log) is retained even for vacuumed versions.
    assert [e["version"] for e in V.history(t)] == [2, 1, 0]


def test_vacuum_keeps_files_shared_with_retained_versions(spark, tmp_path):
    """Append reuses prior files: vacuuming after an append must NOT drop
    files the retained snapshot still references."""
    t = str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a")]), t)
    V.commit_append(_df(spark, [(2, "b")]), t)
    removed = V.vacuum(t, retain_last=1)
    assert removed == []  # v1 references v0's files too
    assert _rows(V.read_version(spark, t)) == [(1, "a"), (2, "b")]


def test_empty_table_roundtrips_schema(spark, tmp_path):
    t = str(tmp_path / "t")
    empty = _df(spark, []).filter("1 = 0")
    V.commit_overwrite(empty, t)
    got = V.read_version(spark, t)
    assert got.count() == 0
    assert got.schema == empty.schema


def test_read_version_null_fills_a_column_older_files_lack(spark, tmp_path):
    """The version's files disagree on columns: the old-schema file is
    listed first and the widened append after it. The read takes the
    manifest's recorded schema, not the first file's, so the added column
    survives and the old rows read it as NULL."""
    t = str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a")]), t)
    V.commit_append(spark.createDataFrame([(2, "b", 7)], "k int, v string, w int"), t)
    m = V._read_manifest(t, 1)
    assert m["files"][0] in V._read_manifest(t, 0)["files"]  # old file first
    got = V.read_version(spark, t)
    assert got.columns == ["k", "v", "w"]
    assert sorted(tuple(r) for r in got.collect()) == [(1, "a", None), (2, "b", 7)]


def test_versioned_upsert_matches_merge_semantics(spark, tmp_path):
    t = str(tmp_path / "t")
    v0 = V.versioned_upsert(spark, t, _df(spark, [(1, "a"), (2, "b")]), ["k"])
    assert v0 == 0
    v1 = V.versioned_upsert(spark, t, _df(spark, [(2, "B"), (3, "c")]), ["k"])
    assert v1 == 1
    assert _rows(V.read_version(spark, t)) == [(1, "a"), (2, "B"), (3, "c")]
    # Time travel still sees the pre-merge snapshot.
    assert _rows(V.read_version(spark, t, 0)) == [(1, "a"), (2, "b")]


def test_versioned_upsert_insert_only(spark, tmp_path):
    t = str(tmp_path / "t")
    V.versioned_upsert(spark, t, _df(spark, [(1, "a")]), ["k"])
    V.versioned_upsert(
        spark, t, _df(spark, [(1, "CLOBBER"), (2, "b")]), ["k"], when_matched_update=False
    )
    assert _rows(V.read_version(spark, t)) == [(1, "a"), (2, "b")]


def test_read_changes_append_only_feed(spark, tmp_path):
    """Incremental consumers see exactly the appended rows per version,
    tagged with _commit_version."""
    t = str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a")]), t)
    V.commit_append(_df(spark, [(2, "b")]), t)
    V.commit_append(_df(spark, [(3, "c")]), t)
    feed = V.read_changes(spark, t, since_version=0)
    assert sorted((r.k, r.v, r._commit_version) for r in feed.collect()) == [
        (2, "b", 1),
        (3, "c", 2),
    ]
    # Full-history read includes the initial write.
    assert sorted(r.k for r in V.read_changes(spark, t).collect()) == [1, 2, 3]
    # Nothing new since the tip: empty frame, schema intact.
    tip = V.read_changes(spark, t, since_version=2)
    assert tip.count() == 0
    assert "_commit_version" in tip.columns


def test_read_changes_change_commit_raises_or_skips(spark, tmp_path):
    t = str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a")]), t)
    V.versioned_upsert(spark, t, _df(spark, [(1, "A"), (2, "b")]), ["k"])  # rewrite
    V.commit_append(_df(spark, [(3, "c")]), t)
    with pytest.raises(ValueError, match="rewrote existing rows"):
        V.read_changes(spark, t, since_version=0)
    feed = V.read_changes(spark, t, since_version=0, skip_change_commits=True)
    assert sorted((r.k, r._commit_version) for r in feed.collect()) == [(3, 2)]


def test_compact_is_invisible_to_change_feed(spark, tmp_path):
    """OPTIMIZE contract: compaction reduces files, preserves rows, and a
    change-feed consumer never sees it — no skip flag needed."""
    t = str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a")]).repartition(4), t)
    V.commit_append(_df(spark, [(2, "b")]).repartition(4), t)
    before = len(V._read_manifest(t, V.latest_version(t))["files"])
    v = V.commit_compact(spark, t, target_files=1)
    after = len(V._read_manifest(t, v)["files"])
    assert after < before
    assert _rows(V.read_version(spark, t)) == [(1, "a"), (2, "b")]
    assert V.read_changes(spark, t, since_version=1).count() == 0
    # Appends after the compact resume the feed from the compacted base.
    V.commit_append(_df(spark, [(3, "c")]), t)
    assert sorted(r.k for r in V.read_changes(spark, t, since_version=1).collect()) == [3]
    # Old pre-compact files reclaimable; latest still reads.
    V.vacuum(t, retain_last=1)
    assert _rows(V.read_version(spark, t)) == [(1, "a"), (2, "b"), (3, "c")]


def test_tail_into_propagates_appends_exactly_once(spark, tmp_path):
    """The streaming tail: each drain appends exactly the new source rows;
    re-draining with nothing new is a no-op (idempotent-writer contract)."""
    s, t = str(tmp_path / "s"), str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a")]), s)
    r1 = V.tail_into(spark, s, t)
    assert r1["source_version"] == 0 and r1["n_files"] > 0
    assert sorted(r.k for r in V.read_version(spark, t).collect()) == [1]
    # Provenance column rides along by default.
    assert "_commit_version" in V.read_version(spark, t).columns
    V.commit_append(_df(spark, [(2, "b")]), s)
    V.commit_append(_df(spark, [(3, "c")]), s)
    r2 = V.tail_into(spark, s, t)
    assert r2["source_version"] == 2
    assert sorted(r.k for r in V.read_version(spark, t).collect()) == [1, 2, 3]
    # Nothing new: watermark already at tip, no commit, no rows.
    r3 = V.tail_into(spark, s, t)
    assert r3["n_files"] == 0
    assert V.latest_version(t) == r2["target_version"]
    assert sorted(r.k for r in V.read_version(spark, t).collect()) == [1, 2, 3]


def test_tail_into_transform_and_bounded_batches(spark, tmp_path):
    """max_versions_per_batch bounds each micro-batch's window;
    tail_until_drained replays history in bites; the transform applies
    per batch."""
    s, t = str(tmp_path / "s"), str(tmp_path / "t")
    for i in range(5):
        V.commit_append(_df(spark, [(i, "x"), (i + 100, "drop")]), s)

    def keep_small(df):
        return df.filter("k < 100").select("k", "v", "_commit_version")

    results = V.tail_until_drained(
        spark, s, t, transform=keep_small, max_versions_per_batch=2
    )
    assert [r["source_version"] for r in results] == [1, 3, 4]
    got = sorted((r.k, r._commit_version) for r in V.read_version(spark, t).collect())
    assert got == [(0, 0), (1, 1), (2, 2), (3, 3), (4, 4)]


def test_tail_into_crash_before_publish_replays_cleanly(spark, tmp_path):
    """Crash between data write and commit publish: the orphaned batch is
    invisible, the watermark is unmoved, and the retry produces exactly the
    rows the crashed attempt would have — no loss, no duplication."""
    s, t = str(tmp_path / "s"), str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a")]), s)
    V.tail_into(spark, s, t)
    V.commit_append(_df(spark, [(2, "b")]), s)

    real_publish = V._publish
    def crashing_publish(*a, **kw):
        raise RuntimeError("crash before manifest publish")
    V._publish = crashing_publish
    try:
        with pytest.raises(RuntimeError, match="crash"):
            V.tail_into(spark, s, t)
    finally:
        V._publish = real_publish

    # Orphan invisible; watermark unmoved.
    assert sorted(r.k for r in V.read_version(spark, t).collect()) == [1]
    r = V.tail_into(spark, s, t)
    assert r["source_version"] == 1
    assert sorted(r.k for r in V.read_version(spark, t).collect()) == [1, 2]
    # The crashed attempt's data dir is reclaimable (min_age_seconds=0:
    # the test KNOWS no writer is live; the default spares fresh orphans).
    assert V.vacuum(t, retain_last=2, min_age_seconds=0)


def test_tail_into_source_compaction_advances_watermark_invisibly(spark, tmp_path):
    """A source compact produces no rows downstream, but the tail still
    advances its watermark (data-less commit) so the window never re-scans;
    the offset commit is itself invisible to the target's own change feed."""
    s, t = str(tmp_path / "s"), str(tmp_path / "t")
    V.commit_append(_df(spark, [(1, "a")]).repartition(3), s)
    V.tail_into(spark, s, t)
    t_v = V.latest_version(t)
    V.commit_compact(spark, s, target_files=1)
    r = V.tail_into(spark, s, t)
    assert r["source_version"] == 1 and r["n_files"] == 0
    assert sorted(r.k for r in V.read_version(spark, t).collect()) == [1]
    # Downstream consumers of the TARGET see nothing from the offset bump.
    assert V.read_changes(spark, t, since_version=t_v).count() == 0
    # Next real append flows normally.
    V.commit_append(_df(spark, [(2, "b")]), s)
    assert V.tail_into(spark, s, t)["n_files"] > 0
    assert sorted(r.k for r in V.read_version(spark, t).collect()) == [1, 2]


def test_tail_into_skip_change_commits(spark, tmp_path):
    """An upstream rewrite fails the tail by default (double-count hazard)
    and is skipped wholesale under skip_change_commits=True — the Delta
    streaming option's exact semantics."""
    s, t = str(tmp_path / "s"), str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a")]), s)
    V.tail_into(spark, s, t)
    V.versioned_upsert(spark, s, _df(spark, [(1, "A"), (2, "b")]), ["k"])
    V.commit_append(_df(spark, [(3, "c")]), s)
    with pytest.raises(ValueError, match="rewrote existing rows"):
        V.tail_into(spark, s, t)
    r = V.tail_into(spark, s, t, skip_change_commits=True)
    assert r["source_version"] == 2
    assert sorted(r.k for r in V.read_version(spark, t).collect()) == [1, 3]


def test_tail_two_sources_independent_watermarks(spark, tmp_path):
    """Two consumers with distinct app_ids into one target keep independent
    watermarks in the same manifest log."""
    s1, s2, t = str(tmp_path / "s1"), str(tmp_path / "s2"), str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a")]), s1)
    V.commit_overwrite(_df(spark, [(10, "x")]), s2)
    V.tail_into(spark, s1, t, app_id="from-s1")
    V.tail_into(spark, s2, t, app_id="from-s2")
    V.commit_append(_df(spark, [(2, "b")]), s1)
    V.tail_into(spark, s1, t, app_id="from-s1")
    assert sorted(r.k for r in V.read_version(spark, t).collect()) == [1, 2, 10]
    assert V.last_committed_txn(t, "from-s1") == 1
    assert V.last_committed_txn(t, "from-s2") == 0


def test_manifest_carries_footer_stats(spark, tmp_path):
    """Every commit records per-file rows + column min/max read from the
    parquet footers; appends reuse the predecessor's entries."""
    t = str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a"), (5, "e")]).coalesce(1), t)
    V.commit_append(_df(spark, [(9, "z")]).coalesce(1), t)
    m = V._read_manifest(t, 1)
    assert set(m["stats"]) == set(m["files"])
    ranges = sorted((s["min"]["k"], s["max"]["k"]) for s in m["stats"].values())
    assert ranges == [(1, 5), (9, 9)]
    assert sum(s["rows"] for s in m["stats"].values()) == 3


def test_read_version_data_skipping_prunes_files(spark, tmp_path):
    """A selective predicate scans only the files whose stats range
    overlaps — and still returns exactly the matching rows."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    df = (
        spark.range(0, 400)
        .select(F.col("id").cast("int").alias("k"), F.lit("v").alias("v"))
        .repartitionByRange(4, "k")
    )
    V.commit_overwrite(df, t)
    all_files = V.files_for_version(t)
    assert len(all_files) == 4
    pred = [("k", ">=", 390)]
    assert len(V.files_for_version(t, predicate=pred)) == 1
    got = sorted(r.k for r in V.read_version(spark, t, predicate=pred).collect())
    assert got == list(range(390, 400))
    # Equality + range ops prune too, and rows are filtered exactly.
    assert len(V.files_for_version(t, predicate=[("k", "=", 50)])) == 1
    assert [r.k for r in V.read_version(spark, t, predicate=[("k", "=", 50)]).collect()] == [50]
    assert V.read_version(spark, t, predicate=[("k", "<", 0)]).count() == 0
    # Conjunction: both bounds applied.
    two = V.read_version(spark, t, predicate=[("k", ">=", 99), ("k", "<=", 100)])
    assert sorted(r.k for r in two.collect()) == [99, 100]


def test_data_skipping_never_prunes_without_stats(spark, tmp_path):
    """A predicate over a column with no usable stats (or a stats-less
    manifest from an older writer) must read everything — pruning is an
    optimization, not a correctness filter."""
    t = str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a"), (2, "b")]), t)
    m = V._read_manifest(t, 0)
    del m["stats"]
    import json as J, os as O
    O.unlink(V._manifest_path(t, 0))
    with open(V._manifest_path(t, 0), "w") as f:
        J.dump(m, f)
    assert len(V.files_for_version(t, predicate=[("k", "=", 2)])) == len(m["files"])
    assert [r.k for r in V.read_version(spark, t, predicate=[("k", "=", 2)]).collect()] == [2]


def test_idempotent_batch_sink_skips_replayed_batches(spark, tmp_path):
    """The foreachBatch contract: a batch redelivered after checkpoint
    recovery (same batch_id) must not double-append."""
    t = str(tmp_path / "t")
    sink = V.idempotent_batch_sink(t, "q1")
    assert sink(_df(spark, [(1, "a")]), 0) is True
    assert sink(_df(spark, [(2, "b")]), 1) is True
    # Replay of batch 1 (and a stale batch 0) after a simulated recovery.
    assert sink(_df(spark, [(2, "b")]), 1) is False
    assert sink(_df(spark, [(1, "a")]), 0) is False
    assert _rows(V.read_version(spark, t)) == [(1, "a"), (2, "b")]
    assert sink(_df(spark, [(3, "c")]), 2) is True
    assert _rows(V.read_version(spark, t)) == [(1, "a"), (2, "b"), (3, "c")]


def test_idempotent_batch_sink_in_real_stream(spark, tmp_path):
    """End-to-end: an availableNow file stream lands in a versioned table
    through the sink; a restart with the same checkpoint appends only the
    new input, and the versioned log shows one commit per batch."""
    import os

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    t = str(tmp_path / "t")
    _df(spark, [(1, "a")]).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k int, v string").parquet(src)
    sink = V.idempotent_batch_sink(t, "stream-q")

    def run():
        q = (
            stream.writeStream.foreachBatch(lambda d, b: sink(d, b))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    assert _rows(V.read_version(spark, t)) == [(1, "a")]
    _df(spark, [(2, "b")]).coalesce(1).write.mode("append").parquet(src)
    run()
    assert _rows(V.read_version(spark, t)) == [(1, "a"), (2, "b")]
    ops = [e["operation"] for e in V.history(t)]
    assert ops == ["streaming-append", "streaming-append"]


def test_versioned_upsert_rederives_after_conflict(spark, tmp_path):
    """If a racing commit lands between snapshot read and publish, the
    upsert must retry against the NEW snapshot — the winner's row has to
    survive into the merge result."""
    t = str(tmp_path / "t")
    V.versioned_upsert(spark, t, _df(spark, [(1, "a")]), ["k"])

    real_commit = V._commit
    raced = {"done": False}

    def racing_commit(table_dir, op, files, base, schema):
        if not raced["done"]:
            raced["done"] = True
            # Racing writer appends (5, "winner") and takes our version.
            V.commit_append(_df(spark, [(5, "winner")]), t)
        return real_commit(table_dir, op, files, base, schema)

    V._commit = racing_commit
    try:
        V.versioned_upsert(spark, t, _df(spark, [(2, "b")]), ["k"])
    finally:
        V._commit = real_commit
    assert _rows(V.read_version(spark, t)) == [(1, "a"), (2, "b"), (5, "winner")]


def test_versioned_scd2_time_travel(spark, tmp_path):
    """Each SCD2 apply is one commit; old versions replay old history."""
    from near_public_lakehouse_spark.operators.versioned import (
        read_version,
        versioned_scd2,
    )

    d = str(tmp_path / "dim")
    v1 = versioned_scd2(
        spark,
        d,
        spark.createDataFrame([(1, "a", 10)], "k int, v string, seq int"),
        ["k"],
        "seq",
    )
    v2 = versioned_scd2(
        spark,
        d,
        spark.createDataFrame([(1, "b", 20)], "k int, v string, seq int"),
        ["k"],
        "seq",
    )
    assert v2 == v1 + 1

    at_v1 = read_version(spark, d, v1)
    assert [(r.k, r.v, r["__scd_current__"]) for r in at_v1.collect()] == [(1, "a", True)]

    now = sorted(
        (r.k, r.v, r["__scd_start__"], r["__scd_end__"], r["__scd_current__"])
        for r in read_version(spark, d, v2).collect()
    )
    assert now == [(1, "a", 10, 20, False), (1, "b", 20, None, True)]


def test_versioned_scd2_idempotent_reapply(spark, tmp_path):
    from near_public_lakehouse_spark.operators.versioned import (
        read_version,
        versioned_scd2,
    )

    d = str(tmp_path / "dim")
    df = spark.createDataFrame([(1, "a", 10), (1, "b", 20)], "k int, v string, seq int")
    versioned_scd2(spark, d, df, ["k"], "seq")
    v = versioned_scd2(spark, d, df, ["k"], "seq")  # reapply: new commit, same rows
    rows = sorted(
        (r.k, r.v, r["__scd_start__"], r["__scd_end__"]) for r in read_version(spark, d, v).collect()
    )
    assert rows == [(1, "a", 10, 20), (1, "b", 20, None)]


def test_versioned_scd2_bucketed_carries_untouched_files(spark, tmp_path):
    """The n_buckets path: a 1-key apply carries over (by manifest
    reference, zero IO) every base file whose footer stats prove it holds
    no touched bucket, and the resulting history matches the unbucketed
    apply exactly."""
    from near_public_lakehouse_spark.operators.versioned import (
        _read_manifest,
        read_version,
        versioned_scd2,
    )

    bucketed = str(tmp_path / "dim_b")
    flat = str(tmp_path / "dim_f")
    init = spark.createDataFrame(
        [(i, "a", 10) for i in range(64)], "k int, v string, seq int"
    )
    upd = spark.createDataFrame([(3, "b", 20)], "k int, v string, seq int")

    v0 = versioned_scd2(spark, bucketed, init, ["k"], "seq", n_buckets=8)
    v1 = versioned_scd2(spark, bucketed, upd, ["k"], "seq", n_buckets=8)
    versioned_scd2(spark, flat, init, ["k"], "seq")
    versioned_scd2(spark, flat, upd, ["k"], "seq")

    f0 = set(_read_manifest(bucketed, v0)["files"])
    f1 = set(_read_manifest(bucketed, v1)["files"])
    carried = f0 & f1
    assert carried, "untouched-bucket files must be carried by reference"
    # 64 keys over 8 buckets, 1 key touched: most base files survive
    assert len(carried) >= len(f0) // 2
    assert f1 - f0, "the touched bucket must be rewritten into new files"

    def hist(d):
        return sorted(
            (r.k, r.v, r["__scd_start__"], r["__scd_end__"], r["__scd_current__"])
            for r in read_version(spark, d).collect()
        )

    assert hist(bucketed) == hist(flat)


def test_versioned_scd2_bucketed_migration_from_flat(spark, tmp_path):
    """Passing n_buckets against an un-bucketed table does one full
    rewrite into the bucketed layout; the NEXT apply prunes."""
    from near_public_lakehouse_spark.operators.versioned import (
        _read_manifest,
        read_version,
        versioned_scd2,
    )

    d = str(tmp_path / "dim")
    versioned_scd2(
        spark,
        d,
        spark.createDataFrame([(i, "a", 10) for i in range(64)], "k int, v string, seq int"),
        ["k"],
        "seq",
    )
    v1 = versioned_scd2(
        spark,
        d,
        spark.createDataFrame([(1, "b", 20)], "k int, v string, seq int"),
        ["k"],
        "seq",
        n_buckets=8,
    )
    v2 = versioned_scd2(
        spark,
        d,
        spark.createDataFrame([(2, "c", 30)], "k int, v string, seq int"),
        ["k"],
        "seq",
        n_buckets=8,
    )
    f1, f2 = set(_read_manifest(d, v1)["files"]), set(_read_manifest(d, v2)["files"])
    assert f1 & f2, "post-migration applies must carry untouched files"
    got = {(r.k, r.v): r["__scd_current__"] for r in read_version(spark, d, v2).collect()}
    assert got[(1, "b")] and got[(2, "c")] and not got[(1, "a")] and not got[(2, "a")]


def test_read_changes_include_removes_delete_insert_view(spark, tmp_path):
    """VERDICT r11 task #7, manifest-store side: include_removes surfaces
    a change commit as its delete+insert pair (file-granularity CDF) and
    replaying deletes-then-inserts reproduces the snapshot transition."""
    t = str(tmp_path / "t")
    V.commit_overwrite(_df(spark, [(1, "a"), (2, "b")]), t)
    V.versioned_upsert(spark, t, _df(spark, [(2, "B"), (3, "c")]), ["k"])
    feed = V.read_changes(spark, t, since_version=0, include_removes=True).collect()
    assert {r._commit_version for r in feed} == {1}
    deletes = sorted((r.k, r.v) for r in feed if r._change_type == "delete")
    inserts = sorted((r.k, r.v) for r in feed if r._change_type == "insert")
    before = _rows(V.read_version(spark, t, 0))
    after = _rows(V.read_version(spark, t, 1))
    for d in deletes:
        assert d in before
    assert sorted([x for x in before if x not in deletes] + inserts) == after
    # delete direction carries the OLD value of the rewritten key
    assert (2, "b") in deletes and (2, "B") in inserts
    # append-only feeds tag insert too when the flag is on
    V.commit_append(_df(spark, [(4, "d")]), t)
    tail = V.read_changes(spark, t, since_version=1, include_removes=True).collect()
    assert [(r.k, r._change_type) for r in tail] == [(4, "insert")]
    # vacuum ages the tombstoned file out -> the delete-direction read
    # fails loudly instead of returning partial history
    V.vacuum(t, retain_last=1)
    with pytest.raises(Exception):
        V.read_changes(spark, t, since_version=0, include_removes=True).collect()


def test_mirror_into_propagates_updates_and_deletes(spark, tmp_path):
    """The delete-propagating consumer: after each drained batch the
    mirror's row set equals the source snapshot — updates land as
    updates, overwrite-dropped keys as deletes; re-runs are no-ops."""
    s, t = str(tmp_path / "src"), str(tmp_path / "dst")
    V.commit_overwrite(_df(spark, [(1, "a"), (2, "b")]), s)
    r = V.mirror_into(spark, s, t, ["k"])
    assert r["source_version"] == 0
    assert _rows(V.read_version(spark, t)) == [(1, "a"), (2, "b")]

    V.versioned_upsert(spark, s, _df(spark, [(2, "B"), (3, "c")]), ["k"])
    V.commit_append(_df(spark, [(4, "d")]), s)
    r = V.mirror_into(spark, s, t, ["k"])
    assert r["source_version"] == 2
    assert _rows(V.read_version(spark, t)) == _rows(V.read_version(spark, s))

    # overwrite drops keys 1-4 entirely: the mirror must DELETE them
    V.commit_overwrite(_df(spark, [(9, "z")]), s)
    V.mirror_into(spark, s, t, ["k"])
    assert _rows(V.read_version(spark, t)) == [(9, "z")]

    # idempotent: nothing new -> watermark unmoved, no data commit
    before = V.latest_version(t)
    r = V.mirror_into(spark, s, t, ["k"])
    assert r["n_rows"] == 0 and V.latest_version(t) == before


def test_mirror_tracks_source_through_random_commit_histories(spark, tmp_path):
    """Randomized (seeded) commit histories: overwrites, keyed upserts,
    fresh-key appends and compactions in arbitrary order, drained at
    arbitrary points — after EVERY drain the mirror's rows equal the
    source snapshot. Covers the interleavings the hand-written cases
    can't: delete-then-reinsert of the same key across one window,
    multi-commit windows whose net effect collapses, compaction noise
    inside a window, and empty drains."""
    import random

    rng = random.Random(12)
    for trial in range(2):
        s = str(tmp_path / f"src{trial}")
        t = str(tmp_path / f"dst{trial}")
        state: dict[int, str] = {1: "a", 2: "b"}
        next_key = 3
        V.commit_overwrite(_df(spark, sorted(state.items())), s)

        def drain_and_check():
            V.mirror_into(spark, s, t, ["k"])
            assert _rows(V.read_version(spark, t)) == _rows(
                V.read_version(spark, s)
            ), f"trial {trial}"

        for step in range(8):
            op = rng.choice(["overwrite", "upsert", "append", "compact"])
            if op == "overwrite":
                keep = {
                    k: v for k, v in state.items() if rng.random() < 0.5
                } or {next_key: f"n{step}"}
                next_key += next_key in keep
                state = dict(keep)
                V.commit_overwrite(_df(spark, sorted(state.items())), s)
            elif op == "upsert":
                touched = rng.sample(sorted(state), min(2, len(state))) if state else []
                rows = [(k, f"u{step}") for k in touched] + [(next_key, f"i{step}")]
                state.update(dict(rows))
                next_key += 1
                V.versioned_upsert(spark, s, _df(spark, rows), ["k"])
            elif op == "append":
                rows = [(next_key, f"a{step}")]
                state.update(dict(rows))
                next_key += 1
                V.commit_append(_df(spark, rows), s)
            else:
                V.commit_compact(spark, s, target_files=1)
            if rng.random() < 0.5:
                drain_and_check()
        drain_and_check()


def test_mirror_until_drained_bounded_bites(spark, tmp_path):
    """Long-gap restart replays in bounded windows: with
    max_versions_per_batch=1 each bite lands one source commit's net
    effect and the final state equals the source tip; a re-run drains
    nothing."""
    s, t = str(tmp_path / "src"), str(tmp_path / "dst")
    V.commit_overwrite(_df(spark, [(1, "a"), (2, "b")]), s)
    V.versioned_upsert(spark, s, _df(spark, [(2, "B"), (3, "c")]), ["k"])
    V.commit_overwrite(_df(spark, [(3, "c"), (9, "z")]), s)
    rs = V.mirror_until_drained(spark, s, t, ["k"], max_versions_per_batch=1)
    assert [r["source_version"] for r in rs] == [0, 1, 2]
    assert _rows(V.read_version(spark, t)) == [(3, "c"), (9, "z")]
    # intermediate snapshots were consistent: target history replays them
    assert _rows(V.read_version(spark, t, 0)) == [(1, "a"), (2, "b")]
    assert _rows(V.read_version(spark, t, 1)) == [(1, "a"), (2, "B"), (3, "c")]
    assert V.mirror_until_drained(spark, s, t, ["k"]) == []


def test_mirror_raises_on_duplicate_key_source(spark, tmp_path):
    """The key contract is guarded, not assumed: a raw append that
    duplicates an existing key (more inserts than deletes in one window)
    raises instead of silently collapsing to one arbitrary row."""
    s, t = str(tmp_path / "src"), str(tmp_path / "dst")
    V.commit_overwrite(_df(spark, [(1, "a")]), s)
    V.commit_append(_df(spark, [(1, "DUP")]), s)  # not a change commit
    with pytest.raises(ValueError, match="unique-key contract"):
        V.mirror_into(spark, s, t, ["k"])


def test_mirror_reorg_only_window_is_dataless(spark, tmp_path):
    """A window holding only compactions advances the watermark with a
    data-less commit: the target's file set is untouched (no snapshot
    rewrite) and a downstream change-feed consumer of the MIRROR sees
    nothing."""
    s, t = str(tmp_path / "src"), str(tmp_path / "dst")
    V.commit_overwrite(_df(spark, [(1, "a"), (2, "b")]).repartition(2), s)
    V.mirror_into(spark, s, t, ["k"])
    files_before = V._read_manifest(t, V.latest_version(t))["files"]
    V.commit_compact(spark, s, target_files=1)
    r = V.mirror_into(spark, s, t, ["k"])
    assert r["source_version"] == V.latest_version(s) and r["n_rows"] == 0
    v = V.latest_version(t)
    m = V._read_manifest(t, v)
    assert m["files"] == files_before and m.get("data_change") is False
    assert V.read_changes(spark, t, since_version=v - 1).count() == 0
    # and the watermark really advanced: nothing left to drain
    assert V.mirror_into(spark, s, t, ["k"]).get("drained")
