"""Versioned parquet tables: a minimal transactional commit log.

The reference stores every table as Delta, whose transaction log provides
atomic commits, snapshot isolation, time travel and VACUUM (SURVEY §2.14;
e.g. `NEAR Public Datasets.py` reads pinned table versions and the round-1/2
verdicts flag `skipChangeCommits`/time-travel as the one Delta capability
the crash-safe swap stand-in cannot express). delta-spark is absent from
this container (ROADMAP round-3 note: no wheel, no jar, no network), so
this module implements the same *contract* the public Delta protocol
documents — an ordered log of manifest files, each naming the complete
data-file set of one table version — against plain parquet:

    table_dir/
      _log/00000000.json      # version manifests, monotonically numbered
      _log/00000001.json
      data/<commit-uuid>/part-*.parquet   # immutable data files

Semantics:
- **Atomic commit**: data files are fully written BEFORE the manifest
  appears; the manifest is published with ``os.link`` (create-exclusive),
  which either installs the complete file atomically or fails — readers
  can never observe a half-commit. A crash before publish leaves an
  orphaned data dir that no manifest references: invisible, reclaimed by
  ``vacuum``.
- **Optimistic concurrency**: every writer is an ``attempt(base)`` closure
  run by one loop, `_retry`: it derives its commit from the snapshot at
  ``base = latest_version()`` and publishes version ``base + 1``; a lost
  ``link`` race (``CommitConflict``) re-reads the log and re-runs the
  attempt, up to ``_RETRIES`` times. Appends write their data once and
  only re-point the manifest at the winner's file set; upsert, SCD2,
  compact and the consumers re-derive against the winner's snapshot.
- **Snapshot isolation / time travel**: every manifest lists its full file
  set, so ``read_version(spark, dir, n)`` is one log read + one parquet
  scan of exactly those files — no reconstruction replay. Old versions
  stay readable until ``vacuum`` drops their unreferenced files.
- **Scale**: manifests hold file *paths*, so log size is O(files), data is
  never copied on commit, and overwrite/append cost is the new data only.
  On a real object store the same protocol works with a conditional PUT
  (if-none-match) in place of ``link``.
- **Change feed**: ``read_changes`` exposes rows appended between two
  versions — the incremental-consumption contract the reference gets from
  streaming Delta reads with ``skipChangeCommits`` (`NEAR Public
  Datasets.py` readStream option). Commits that only reorganize files
  (``compact``) carry ``data_change: false`` and are invisible to the
  feed, exactly like Delta's OPTIMIZE; commits that rewrite existing rows
  (``upsert``/``overwrite``) either raise or are skipped wholesale under
  ``skip_change_commits=True`` — never half-read — or surfaced as
  file-granularity delete+insert pairs under ``include_removes=True``
  (the delete direction; ``mirror_into`` is its consumer).
- **Consumers**: a consumer drains a change feed into a target table with
  the consumed source version recorded INSIDE the output commit (Delta's
  txnAppId/txnVersion idempotent-writer contract) — exactly-once
  incremental propagation with no external checkpoint store, the
  availableNow streaming-table pattern of `NEAR Public Datasets.py`. Each
  consumer is a feed plus an apply step:

  * feeds: the manifest store's change feed, or a published Delta table's
    (`DeltaLogReader`);
  * apply steps: `_apply_tail_batch` (append, the reference's
    skipChangeCommits tail) or `_apply_mirror_batch` (net per-key effect,
    deletes propagated).

  The batch consumers (`tail_into`, `mirror_into`, `delta_mirror_into`)
  share one drain body, `_drain_batch` (watermark, window, ``drained``
  marker, data-less watermark commit for an empty window), and the
  ``*_until_drained`` loops share `_until_drained`. The streaming
  consumers (`tail_stream`, `mirror_stream`, `delta_mirror_stream`,
  `delta_tail_stream`) are one query builder, `_start_stream`, around one
  watermarked foreachBatch sink, `_watermarked_sink`.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG = "_log"
_DATA = "data"
# Lost optimistic races a writer absorbs before giving up.
_RETRIES = 10


class CommitConflict(RuntimeError):
    """Another writer published this version first."""


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _LOG)


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_log_dir(table_dir), f"{version:08d}.json")


def _versions(table_dir: str) -> list[int]:
    log = _log_dir(table_dir)
    if not os.path.isdir(log):
        return []
    return sorted(
        int(n[:-5]) for n in os.listdir(log) if n.endswith(".json") and n[:-5].isdigit()
    )


def latest_version(table_dir: str) -> int | None:
    vs = _versions(table_dir)
    return vs[-1] if vs else None


def _read_manifest(table_dir: str, version: int) -> dict:
    with open(_manifest_path(table_dir, version)) as f:
        return json.load(f)


def _write_data(df: DataFrame, table_dir: str) -> list[str]:
    """Write df's rows as immutable parquet files under a fresh commit dir;
    return their table-relative paths. Nothing references them until a
    manifest does."""
    commit_dir = os.path.join(_DATA, uuid.uuid4().hex)
    out = os.path.join(table_dir, commit_dir)
    df.write.mode("error").parquet(out)
    return [
        os.path.join(commit_dir, n)
        for n in sorted(os.listdir(out))
        if n.endswith(".parquet")
    ]


def _file_stats(table_dir: str, files: list[str]) -> dict[str, dict]:
    """Per-file row count + column min/max, read from the parquet FOOTERS
    the writers already produced — no data scan, no Spark job (the Delta
    data-skipping stats, gathered the way an object-store writer would:
    from metadata it has in hand at commit time). Only JSON-safe scalar
    stats are kept; a column without usable stats simply never prunes."""
    import pyarrow.parquet as pq

    def scalar(v):
        if isinstance(v, (bool, int, float, str)):
            return v
        return None

    out: dict[str, dict] = {}
    for rel in files:
        try:
            md = pq.ParquetFile(os.path.join(table_dir, rel)).metadata
        except Exception:
            continue
        acc: dict[str, list] = {}  # name -> [lo, hi]; valid in EVERY row group
        bad: set[str] = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name:  # nested: no file-level pruning
                    bad.add(name)
                    continue
                st = col.statistics
                lo = scalar(st.min) if st is not None and st.has_min_max else None
                hi = scalar(st.max) if st is not None and st.has_min_max else None
                if lo is None or hi is None:
                    bad.add(name)
                elif name in acc:
                    acc[name][0] = min(acc[name][0], lo)
                    acc[name][1] = max(acc[name][1], hi)
                else:
                    acc[name] = [lo, hi]
        for name in bad:
            acc.pop(name, None)
        out[rel] = {
            "rows": md.num_rows,
            "min": {k: v[0] for k, v in acc.items()},
            "max": {k: v[1] for k, v in acc.items()},
        }
    return out


def _file_matches(stats: dict | None, predicate: list[tuple]) -> bool:
    """Can this file contain a row satisfying ALL (col, op, value) conjuncts?
    Missing stats for a referenced column => must read the file (pruning is
    an optimization, never a correctness filter)."""
    if stats is None:
        return True
    for col, op, val in predicate:
        lo = stats.get("min", {}).get(col)
        hi = stats.get("max", {}).get(col)
        if lo is None or hi is None:
            continue
        try:
            if op == "=" and not (lo <= val <= hi):
                return False
            if op == "<" and not (lo < val):
                return False
            if op == "<=" and not (lo <= val):
                return False
            if op == ">" and not (hi > val):
                return False
            if op == ">=" and not (hi >= val):
                return False
        except TypeError:
            continue  # incomparable types: read the file
    return True


def _publish(table_dir: str, version: int, manifest: dict) -> None:
    """Atomically install the manifest for `version`, or raise
    CommitConflict if that version already exists (optimistic lock)."""
    log = _log_dir(table_dir)
    os.makedirs(log, exist_ok=True)
    tmp = os.path.join(log, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _manifest_path(table_dir, version))  # create-exclusive
    except FileExistsError as e:
        raise CommitConflict(f"version {version} already committed") from e
    finally:
        os.unlink(tmp)


def _commit(
    table_dir: str,
    operation: str,
    files: list[str],
    base_version: int | None,
    schema_json: str,
    data_change: bool = True,
    txn: dict[str, int] | None = None,
    meta: dict | None = None,
) -> int:
    version = 0 if base_version is None else base_version + 1
    # Data-skipping stats: reuse the predecessor's entries for carried-over
    # files, read parquet footers only for files new to this commit.
    prior_stats: dict[str, dict] = {}
    if base_version is not None:
        prior_stats = _read_manifest(table_dir, base_version).get("stats", {})
    stats = {f: prior_stats[f] for f in files if f in prior_stats}
    stats.update(_file_stats(table_dir, [f for f in files if f not in stats]))
    manifest = {
        "version": version,
        "operation": operation,
        "timestamp": time.time(),
        "files": files,
        "schema": schema_json,
        "data_change": data_change,
        "stats": stats,
    }
    if txn:
        manifest["txn"] = txn
    if meta:
        manifest["meta"] = meta
    _publish(table_dir, version, manifest)
    return version


def last_committed_txn(table_dir: str, app_id: str) -> int | None:
    """Highest transaction watermark any manifest recorded for `app_id` —
    the Delta `txnAppId`/`txnVersion` idempotent-writer lookup. Scans the
    log newest-first; at real scale a reader caches this per process (the
    log is append-only, so a cached answer only ever goes stale upward)."""
    for v in reversed(_versions(table_dir)):
        t = _read_manifest(table_dir, v).get("txn", {})
        if app_id in t:
            return t[app_id]
    return None


def _retry(table_dir: str, attempt, what: str):
    """The optimistic-commit loop: ``attempt(latest_version(table_dir))``,
    re-run on every lost publish race (CommitConflict) up to ``_RETRIES``
    times. An attempt derives its whole commit from the base it is given,
    so a retry sees the winner's snapshot."""
    for _ in range(_RETRIES):
        try:
            return attempt(latest_version(table_dir))
        except CommitConflict:
            continue
    raise CommitConflict(f"{what} {table_dir} lost {_RETRIES} races")


def _files_at(table_dir: str, base: int | None) -> list[str]:
    """The file set of version `base` (none before the first commit)."""
    return _read_manifest(table_dir, base)["files"] if base is not None else []


def commit_overwrite(df: DataFrame, table_dir: str) -> int:
    """Replace the table contents in one atomic commit; returns the new
    version. Prior versions remain time-travel readable until vacuumed."""
    files = _write_data(df, table_dir)
    schema = df.schema.json()
    return _retry(
        table_dir,
        lambda base: _commit(table_dir, "overwrite", files, base, schema),
        "overwrite of",
    )


def commit_append(df: DataFrame, table_dir: str) -> int:
    """Append df's rows in one atomic commit. Appends commute, so a lost
    race just re-points the manifest at the new snapshot's file set — the
    already-written data files are reused, never rewritten."""
    new_files = _write_data(df, table_dir)
    schema = df.schema.json()
    return _retry(
        table_dir,
        lambda base: _commit(
            table_dir, "append", _files_at(table_dir, base) + new_files, base, schema
        ),
        "append to",
    )


def files_for_version(
    table_dir: str,
    version: int | None = None,
    predicate: list[tuple] | None = None,
) -> list[str]:
    """The data files a read of `version` must scan, after data-skipping
    against the manifest's footer stats. `predicate` is a conjunction of
    (column, op, value) with op in =, <, <=, >, >= — a file is kept unless
    its stats PROVE no row can match (missing stats never prune)."""
    v = latest_version(table_dir) if version is None else version
    if v is None or not os.path.exists(_manifest_path(table_dir, v)):
        raise FileNotFoundError(f"{table_dir} has no version {version!r}")
    return _files_from_manifest(_read_manifest(table_dir, v), predicate)


def _files_from_manifest(m: dict, predicate: list[tuple] | None) -> list[str]:
    files = m["files"]
    if predicate:
        stats = m.get("stats", {})
        files = [f for f in files if _file_matches(stats.get(f), predicate)]
    return files


def _read_files(
    spark: SparkSession, table_dir: str, files: list[str], schema_json: str
) -> DataFrame:
    """Read `files` of `table_dir` under a manifest's recorded schema. A
    plain parquet read takes its schema from one file, so a column that a
    later commit added vanishes whenever an older file is listed first;
    under the recorded schema the older files null-fill it."""
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(schema_json))
    if not files:
        return spark.createDataFrame([], schema=schema)
    return spark.read.schema(schema).parquet(*(os.path.join(table_dir, f) for f in files))


def read_version(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    predicate: list[tuple] | None = None,
) -> DataFrame:
    """Read the table as of `version` (default: latest). Raises if the
    version never existed or its files were vacuumed away.

    `predicate` — conjunctive (column, op, value) filters — is applied
    EXACTLY (rows are filtered in Spark), but first prunes whole files via
    the manifest's footer min/max stats, the Delta data-skipping contract:
    at 100 TB a selective predicate reads the handful of files whose range
    overlaps instead of the full snapshot, before Spark even plans."""
    v = latest_version(table_dir) if version is None else version
    if v is None or not os.path.exists(_manifest_path(table_dir, v)):
        raise FileNotFoundError(f"{table_dir} has no version {version!r}")
    m = _read_manifest(table_dir, v)
    missing = [f for f in m["files"] if not os.path.exists(os.path.join(table_dir, f))]
    if missing:
        raise FileNotFoundError(
            f"version {v} of {table_dir} was vacuumed (missing {missing[:3]}...)"
        )
    # one manifest read serves the vacuum check AND the pruning (the
    # files_for_version call here used to re-stat + re-parse it, r14)
    files = _files_from_manifest(m, predicate)
    df = _read_files(spark, table_dir, files, m["schema"])
    if predicate:
        from pyspark.sql import functions as F

        ops = {
            "=": lambda c, x: c == x,
            "<": lambda c, x: c < x,
            "<=": lambda c, x: c <= x,
            ">": lambda c, x: c > x,
            ">=": lambda c, x: c >= x,
        }
        for col, op, val in predicate:
            df = df.filter(ops[op](F.col(col), F.lit(val)))
    return df


def commit_compact(spark: SparkSession, table_dir: str, target_files: int = 1) -> int:
    """OPTIMIZE analog: rewrite the current snapshot into `target_files`
    files as a new version whose manifest carries ``data_change: false`` —
    readers see identical rows, `read_changes` consumers see NOTHING (the
    Delta OPTIMIZE contract: file reorganization is not data). Old files
    stay until `vacuum`."""

    def attempt(base):
        if base is None:
            raise FileNotFoundError(f"{table_dir} has no versions to compact")
        snap = read_version(spark, table_dir, base).coalesce(target_files)
        return _commit(
            table_dir,
            "compact",
            _write_data(snap, table_dir),
            base,
            _read_manifest(table_dir, base)["schema"],
            data_change=False,
        )

    return _retry(table_dir, attempt, "compact of")


def _changes_plan(
    table_dir: str,
    since_version: int | None,
    end_version: int | None,
    skip_change_commits: bool,
    include_removes: bool = False,
) -> tuple[list[tuple[int, list[str], list[str]]], str | None]:
    """Driver-side change-feed planning: which files each commit in
    ``(since_version, end_version]`` ADDED and (with ``include_removes``)
    REMOVED, plus the newest schema seen. Pure log reads — no Spark job —
    so `tail_into` can detect an empty window for free."""
    versions = _versions(table_dir)
    if end_version is not None:
        versions = [v for v in versions if v <= end_version]
    start = -1 if since_version is None else since_version
    prev_files: set[str] = set()
    if start >= 0:
        if start not in versions and not os.path.exists(_manifest_path(table_dir, start)):
            raise FileNotFoundError(f"{table_dir} has no version {start}")
        prev_files = set(_read_manifest(table_dir, start)["files"])

    changes_by_version: list[tuple[int, list[str], list[str]]] = []
    latest_schema: str | None = None
    for v in versions:
        m = _read_manifest(table_dir, v)
        latest_schema = m["schema"]
        files = set(m["files"])
        if v <= start:
            continue
        added = sorted(files - prev_files)
        removed = sorted(prev_files - files)
        prev_files = files
        if not m.get("data_change", True):
            continue  # reorganization: same rows, new layout
        if removed:
            if skip_change_commits:
                continue
            if not include_removes:
                raise ValueError(
                    f"version {v} of {table_dir} rewrote existing rows "
                    f"({m['operation']}); pass skip_change_commits=True to "
                    "ignore change commits, include_removes=True for the "
                    "delete+insert view, or read_version for a full snapshot"
                )
        if added or (removed and include_removes):
            changes_by_version.append(
                (v, added, removed if include_removes else [])
            )
    return changes_by_version, latest_schema


def read_changes(
    spark: SparkSession,
    table_dir: str,
    since_version: int | None = None,
    end_version: int | None = None,
    skip_change_commits: bool = False,
    include_removes: bool = False,
) -> DataFrame:
    """Rows changed by commits in ``(since_version, end_version]`` with a
    ``_commit_version`` column — the incremental-consumption seam the
    reference builds on streaming Delta reads (`NEAR Public Datasets.py`
    `.option("skipChangeCommits", "true")`).

    Per commit, the additions are its manifest's files minus its
    predecessor's — file paths are immutable, so this is set difference on
    the driver, no data diffing. Three commit classes:

    - additive (``append``, or any commit removing no predecessor files):
      its new files are read;
    - reorganization (``data_change: false``, e.g. `commit_compact`):
      silently invisible, same as Delta OPTIMIZE under a streaming reader;
    - change commits (an ``upsert``/``overwrite`` that dropped predecessor
      files): ValueError by default — silently re-reading rewritten rows
      would double-count — skipped WHOLESALE with
      ``skip_change_commits=True``, mirroring the Delta option's semantics
      (the reference's choice: its pipelines never propagate deletes), or
      SURFACED with ``include_removes=True`` (VERDICT r11 task #7): the
      commit's removed files' rows come back tagged ``delete`` and its
      added files' rows ``insert`` in a ``_change_type`` column —
      file-granularity CDF, an update appears as its delete+insert pair.
      Applying deletes-then-inserts reproduces the snapshot transition
      exactly; rows merely copied between files during a rewrite appear on
      both sides. Removed files must still be on disk (inside the vacuum
      retention window) — a vacuumed file fails the read rather than
      returning partial history.

    ``include_removes`` adds ``_change_type`` to ALL returned rows
    (``insert`` for additive commits too), so downstream MERGE logic
    branches on one column.

    ``since_version=None`` starts before version 0 (full-history read).
    Scale: cost is O(files changed in the window); consumers checkpoint
    `latest_version()` and poll — at 100 TB this is the same trailing-
    window pattern as the reference's availableNow restarts.
    """
    changes_by_version, latest_schema = _changes_plan(
        table_dir, since_version, end_version, skip_change_commits, include_removes
    )

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructType

    if not changes_by_version:
        if latest_schema is None:
            raise FileNotFoundError(f"{table_dir} has no versions")
        empty_schema = StructType.fromJson(json.loads(latest_schema)).add(
            "_commit_version", LongType()
        )
        if include_removes:
            empty_schema = empty_schema.add("_change_type", StringType())
        return spark.createDataFrame([], schema=empty_schema)

    def _read(fs: list[str], v: int, change: str) -> DataFrame:
        df = spark.read.parquet(
            *(os.path.join(table_dir, f) for f in fs)
        ).withColumn("_commit_version", F.lit(v).cast("long"))
        if include_removes:
            df = df.withColumn("_change_type", F.lit(change))
        return df

    parts = []
    for v, added, removed in changes_by_version:
        if removed:
            parts.append(_read(removed, v, "delete"))
        if added:
            parts.append(_read(added, v, "insert"))
    out = parts[0]
    for p in parts[1:]:
        # additive schema evolution mid-window: later commits may carry new
        # columns (and delete parts always carry the PRE-rewrite schema);
        # earlier rows null-fill — same contract as the Delta-side twin
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def history(table_dir: str) -> list[dict]:
    """Commit log, newest first — the DESCRIBE HISTORY analog."""
    return [
        {k: m[k] for k in ("version", "operation", "timestamp")}
        | {"n_files": len(m["files"])}
        for m in (_read_manifest(table_dir, v) for v in reversed(_versions(table_dir)))
    ]


def vacuum(
    table_dir: str, retain_last: int = 1, min_age_seconds: float = 3600.0
) -> list[str]:
    """Drop data files referenced ONLY by versions older than the last
    `retain_last` manifests (and orphaned commit dirs no manifest ever
    published). Returns the removed table-relative paths. Manifests of
    vacuumed versions are kept — history stays listable, reads of those
    versions fail with an explicit error (Delta behaves the same).

    ``min_age_seconds``: an UNREFERENCED commit dir younger than this is
    left alone — it is indistinguishable from a concurrent writer's
    in-flight commit (data written, manifest not yet linked), and
    deleting it would corrupt the version that writer is about to
    publish (r14 review; real Delta VACUUM has a retention window for
    exactly this race). Commit dirs referenced only by OLD versions are
    age-exempt: a manifest already points at them, so no in-flight
    publish can adopt them. Pass 0 only when no writer can be live."""
    import time

    versions = _versions(table_dir)
    keep_versions = versions[-retain_last:] if retain_last else []
    live: set[str] = set()
    for v in keep_versions:
        live.update(_read_manifest(table_dir, v)["files"])
    removed: list[str] = []
    data_root = os.path.join(table_dir, _DATA)
    if not os.path.isdir(data_root):
        return removed
    ever_referenced: set[str] = set()
    for v in versions:
        ever_referenced.update(_read_manifest(table_dir, v)["files"])
    now = time.time()
    for commit in sorted(os.listdir(data_root)):
        cdir = os.path.join(data_root, commit)
        rel = [os.path.join(_DATA, commit, n) for n in sorted(os.listdir(cdir))]
        if any(f in live for f in rel):
            continue
        if not any(f in ever_referenced for f in rel):
            # No manifest ever pointed here: crash orphan OR an in-flight
            # commit racing us — only age can tell them apart.
            try:
                age = now - os.path.getmtime(cdir)
            except OSError:
                continue  # raced the writer's own cleanup
            if age < min_age_seconds:
                continue
        # Dead: old-version-only, or an orphan past the in-flight window.
        removed.extend(rel)
        shutil.rmtree(cdir)
    return removed


# --- consumers: feed + apply step ------------------------------------------


def _manifest_feed(
    spark: SparkSession,
    source_dir: str,
    skip_change_commits: bool = False,
    include_removes: bool = False,
):
    """(window, schema_at) over the manifest store's change feed:
    ``window(since, end)`` is the feed of ``(since, end]``, or None when
    the window adds no rows (the plan is pure log reads, so an empty
    window costs no Spark job); ``schema_at(end)`` is the source schema at
    `end`, the schema a data-less first commit into the target carries."""

    def window(since: int | None, end: int) -> DataFrame | None:
        plan, _ = _changes_plan(
            source_dir, since, end, skip_change_commits, include_removes
        )
        if not plan:
            return None
        return read_changes(
            spark, source_dir, since_version=since, end_version=end,
            skip_change_commits=skip_change_commits,
            include_removes=include_removes,
        )

    return window, lambda end: _read_manifest(source_dir, end)["schema"]


def _delta_feed(spark: SparkSession, reader):
    """`_manifest_feed`'s twin over a published Delta table, read by the
    independent protocol reader with removes surfaced. The schema of a
    data-less first commit comes from the Delta snapshot: schemaString is
    StructType JSON, the manifest store's native format (a "{}" schema
    would wedge every later read_version of the target — ADVICE r12)."""

    def window(since: int | None, end: int) -> DataFrame | None:
        if not reader.change_plan(since, end, include_removes=True):
            return None
        return reader.read_changes(
            spark, since_version=since, end_version=end, include_removes=True
        )

    return window, lambda end: json.dumps(reader.snapshot(end).schema)


def _apply_tail_batch(
    batch: DataFrame, target_dir: str, base: int | None, app: str, end: int,
    transform=None,
) -> dict:
    """Tail apply step: append `transform(batch)` to the target at `base`
    in one commit that records ``txn: {app: end}``."""
    out = transform(batch) if transform is not None else batch
    new_files = _write_data(out, target_dir)
    return {
        "source_version": end,
        "target_version": _commit(
            target_dir, "tail", _files_at(target_dir, base) + new_files, base,
            out.schema.json(), txn={app: end},
        ),
        "n_files": len(new_files),
    }


def _apply_mirror_batch(
    feed: DataFrame, target_dir: str, base: int | None, keys: list[str],
    app: str, end: int,
) -> dict:
    """Mirror apply step: net-reduce the window per key, check the
    key contract, merge into the target snapshot at `base` and commit with
    ``txn: {app: end}``."""
    from pyspark.sql import Window as W

    # Key-contract guard: within one window a key ending LIVE must have
    # inserts <= deletes + 1; a raw duplicate-key append breaks that and
    # would be silently collapsed by the net reduce below. One extra pass
    # over the CHANGED files only (never the target).
    bal = (
        feed.groupBy(*keys)
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("bal")
        )
        .filter(F.col("bal") > 1)
    )
    offender = bal.limit(1).collect()
    if offender:
        raise ValueError(
            f"source window violates the unique-key contract for keys "
            f"{keys}: e.g. {tuple(offender[0])[:-1]} has more inserts than "
            "deletes — mirror_into requires a MERGE-managed source"
        )
    rn = F.row_number().over(
        W.partitionBy(*keys).orderBy(
            F.desc("_commit_version"), F.desc("_change_type")
        )
    )
    net = feed.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__rn")
    upserts = net.filter(F.col("_change_type") == "insert").drop(
        "_commit_version", "_change_type"
    )
    affected = net.select(*keys)
    if base is not None:
        target = read_version(feed.sparkSession, target_dir, base)
        merged = target.join(affected, keys, "left_anti").unionByName(
            upserts, allowMissingColumns=True
        )
    else:
        merged = upserts
    files = _write_data(merged, target_dir)
    version = _commit(
        target_dir, "mirror", files, base, merged.schema.json(), txn={app: end}
    )
    # row count from the manifest's own parquet-footer stats — no second
    # execution of the merged plan (r12 review); None if any file lacks it
    stats = _read_manifest(target_dir, version).get("stats", {})
    per_file = [s.get("rows") for s in (stats.get(f) for f in files) if s]
    n_rows = sum(per_file) if len(per_file) == len(files) and all(
        r is not None for r in per_file
    ) else None
    return {
        "source_version": end,
        "target_version": version,
        "n_rows": n_rows,
    }


def _watermark_only_commit(
    target_dir: str, base: int | None, app: str, end: int, op: str, schema_at
) -> dict:
    """Advance a consumer watermark with a data-less commit that reuses
    the target's current files — an empty window (compaction, skipped
    change commits) must not rewrite the snapshot (r12 review)."""
    m = _read_manifest(target_dir, base) if base is not None else None
    return {
        "source_version": end,
        "target_version": _commit(
            target_dir, op, m["files"] if m else [], base,
            m["schema"] if m else schema_at(end),
            data_change=False, txn={app: end},
        ),
    }


def _drain_batch(
    target_dir: str,
    app: str,
    op: str,
    count_key: str,
    tip: int | None,
    feed,
    apply,
    max_versions_per_batch: int | None = None,
) -> dict:
    """One batch-consumer micro-batch: the window from this consumer's
    watermark (``last_committed_txn(app)``) to the source `tip`, capped at
    `max_versions_per_batch` versions, applied by ``apply(batch, base,
    end)`` — or, when the `feed` window adds no rows, a data-less commit
    that only advances the watermark. A window already consumed returns
    the ``drained`` marker. The whole derivation runs inside the retry
    attempt: if the racer was another instance of the SAME consumer, the
    window re-derives as empty and this call no-ops instead of
    double-applying."""
    if tip is None:
        return {
            "source_version": None,
            "target_version": latest_version(target_dir),
            count_key: 0,
        }
    window, schema_at = feed

    def attempt(base):
        since = last_committed_txn(target_dir, app)
        end = tip
        if max_versions_per_batch is not None:
            end = min(tip, (-1 if since is None else since) + max_versions_per_batch)
        if since is not None and end <= since:
            # marked so _until_drained stops without a no-op result
            return {
                "source_version": since,
                "target_version": base,
                count_key: 0,
                "drained": True,
            }
        batch = window(since, end)
        if batch is None:
            return {
                **_watermark_only_commit(target_dir, base, app, end, op, schema_at),
                count_key: 0,
            }
        return apply(batch, base, end)

    return _retry(target_dir, attempt, f"{op} into")


def _until_drained(source_dir: str, batch) -> list[dict]:
    """Run ``batch()`` until the consumer watermark reaches the source tip
    seen before the batch; returns one result per batch that did work."""
    results: list[dict] = []
    while True:
        src_latest = latest_version(source_dir)
        r = batch()
        if r["source_version"] is None or r.get("drained"):
            return results
        results.append(r)
        if src_latest is not None and r["source_version"] >= src_latest:
            return results


def tail_into(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    transform=None,
    app_id: str | None = None,
    skip_change_commits: bool = False,
    max_versions_per_batch: int | None = None,
) -> dict:
    """One micro-batch of the versioned-table STREAMING consumer: drain the
    source change feed past this consumer's watermark, apply `transform`,
    and append the result to the target in ONE atomic commit that also
    records the consumed source version (``txn: {app_id: source_version}``).

    This is the streaming seam the reference builds from Delta
    (`NEAR Public Datasets.py` `spark.readStream.option("skipChangeCommits",
    "true").table(...)` + `.trigger(availableNow=True)`), re-expressed over
    the manifest log with Delta's own *idempotent writer* contract
    (txnAppId/txnVersion): the offset travels inside the output commit, so
    there is no separate checkpoint store to get out of sync.

    Exactly-once by construction:
    - crash AFTER data write, BEFORE publish → orphan data dir (invisible,
      vacuumable), watermark unmoved → the batch re-runs in full;
    - crash AFTER publish → rows and watermark landed atomically together
      → the batch never re-runs.
    `transform` must be deterministic for replayed batches to be identical
    (same requirement Structured Streaming puts on foreachBatch sinks).

    Returns ``{"source_version", "target_version", "n_files"}`` for the
    batch (all None/0 when there was nothing to do). `max_versions_per_batch`
    bounds one batch's window like `maxFilesPerTrigger`.
    """
    app = app_id or f"tail:{os.path.abspath(source_dir)}"
    return _drain_batch(
        target_dir, app, "tail", "n_files", latest_version(source_dir),
        _manifest_feed(spark, source_dir, skip_change_commits),
        lambda batch, base, end: _apply_tail_batch(
            batch, target_dir, base, app, end, transform
        ),
        max_versions_per_batch,
    )


def mirror_into(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    keys: list[str],
    app_id: str | None = None,
    max_versions_per_batch: int | None = None,
) -> dict:
    """Delete-PROPAGATING replication micro-batch: the consumer the
    remove-aware change feed exists for (VERDICT r11 task #7). Where
    `tail_into` is the reference's skipChangeCommits append tail (deletes
    never propagate), `mirror_into` drains
    ``read_changes(include_removes=True)`` and applies the window's NET
    effect per key to the target — updates land as updates, deletes as
    deletes — so after each drained batch the target's row set equals the
    source snapshot at the consumed version.

    Net effect: one window by `keys` ordered by (_commit_version DESC,
    _change_type DESC) — the latest commit wins, and within one commit an
    update's insert outranks its paired file-granularity delete. A net
    `delete` drops the key; a net `insert` upserts the row. Rows merely
    copied between files during a rewrite net to an insert of identical
    values — harmless by idempotence of upsert.

    Exactly-once the same way as `tail_into`: the consumed source version
    travels INSIDE the target commit (``txn: {app_id: version}``); a lost
    race re-derives the whole batch against the winner's snapshot. The
    target rewrite is snapshot-sized, matching `versioned_upsert`'s
    existing MERGE semantics on this manifest store — the
    partition-pruned form of the same operation is
    `merge.merge_upsert_logged` on the published Delta tables.

    PRECONDITION: `keys` identify at most one live row per source snapshot
    (a MERGE-managed table — the same contract Delta CDF consumers
    assume). A per-window guard raises when the window itself proves the
    contract broken (more inserts than deletes for one key, e.g. a raw
    append of a duplicate key); violations that straddle windows are
    undetectable at file granularity and land as last-writer-wins.
    """
    app = app_id or f"mirror:{os.path.abspath(source_dir)}"
    return _drain_batch(
        target_dir, app, "mirror", "n_rows", latest_version(source_dir),
        _manifest_feed(spark, source_dir, include_removes=True),
        lambda batch, base, end: _apply_mirror_batch(
            batch, target_dir, base, keys, app, end
        ),
        max_versions_per_batch,
    )


def delta_mirror_into(
    spark: SparkSession,
    delta_table_dir: str,
    target_dir: str,
    keys: list[str],
    app_id: str | None = None,
) -> dict:
    """Cross-store consumer: mirror a PUBLISHED Delta table (real
    `_delta_log`, read by the independent protocol reader) into a
    versioned table, PROPAGATING DELETES — the downstream shape the
    reference's BQ Writer cannot have (it reads with
    `skipChangeCommits=true` and never deletes; `NB/BQ Writer
    Stream.py:9-15`). One call drains everything past this consumer's
    watermark: the Delta-side commit feed
    (`DeltaLogReader.read_changes(include_removes=True)`) reduces to its
    net per-key effect exactly as `mirror_into`, and the consumed DELTA
    version rides inside the versioned commit (txn watermark) for
    exactly-once drains. Needs the window's removed files inside the
    publish-side vacuum retention window — same contract as the feed.
    Shares `mirror_into`'s key contract and guard (unique keys per source
    snapshot — true by construction for the published tables, which MERGE
    on PUBLIC_TABLE_KEYS)."""
    from near_public_lakehouse_spark.operators.delta_reader import DeltaLogReader

    app = app_id or f"delta-mirror:{os.path.abspath(delta_table_dir)}"
    reader = DeltaLogReader(delta_table_dir)
    return _drain_batch(
        target_dir, app, "mirror", "n_rows", reader.versions[-1],
        _delta_feed(spark, reader),
        lambda batch, base, end: _apply_mirror_batch(
            batch, target_dir, base, keys, app, end
        ),
    )


def tail_until_drained(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    transform=None,
    app_id: str | None = None,
    skip_change_commits: bool = False,
    max_versions_per_batch: int | None = None,
) -> list[dict]:
    """`trigger(availableNow=True)` analog: run `tail_into` micro-batches
    until the consumer watermark reaches the source tip; returns one result
    dict per batch that did work. With `max_versions_per_batch` this
    replays the source commit history in bounded bites — the knob that
    keeps executor memory flat when a tail restarts after a long gap."""
    return _until_drained(
        source_dir,
        lambda: tail_into(
            spark, source_dir, target_dir, transform=transform, app_id=app_id,
            skip_change_commits=skip_change_commits,
            max_versions_per_batch=max_versions_per_batch,
        ),
    )


def mirror_until_drained(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    keys: list[str],
    app_id: str | None = None,
    max_versions_per_batch: int | None = None,
) -> list[dict]:
    """`tail_until_drained`'s delete-propagating twin: run `mirror_into`
    micro-batches until the consumer watermark reaches the source tip.
    With `max_versions_per_batch` a long-gapped restart replays the
    commit history in bounded bites; each bite applies its window's NET
    per-key effect, so the target passes through consistent intermediate
    snapshots (never a half-applied window)."""
    return _until_drained(
        source_dir,
        lambda: mirror_into(
            spark, source_dir, target_dir, keys, app_id=app_id,
            max_versions_per_batch=max_versions_per_batch,
        ),
    )


# --- streaming consumers ------------------------------------------------------

# readStream options of the two feed shapes, shared by the manifest-store
# (`versioned_changes`) and Delta (`delta_changes`) sources
_TAIL_FEED = {"includeRemoves": "false", "skipChangeCommits": "true"}
_MIRROR_FEED = {"includeRemoves": "true"}


def _watermarked_sink(target_dir: str, app_id: str, apply):
    """foreachBatch sink applying one change-feed micro-batch with
    ``apply(window, base, end)``, where `end` — the CONSUMED SOURCE
    VERSION, the batch's max `_commit_version` — rides inside the target
    commit as the txn watermark. That makes the sink idempotent under
    foreachBatch's documented at-least-once replay: a batch redelivered
    after checkpoint recovery finds `end <= last_committed_txn` and
    no-ops. Returns the apply step's result, or None for empty/replayed
    batches."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> dict | None:
        # One materialization of the executor-side Arrow reads; the
        # max-agg and every job of the apply step reuse it (r13 review:
        # uncached foreachBatch input re-read the changed files per job).
        batch_df.persist()
        try:
            top = batch_df.agg(F.max("_commit_version")).collect()[0][0]
            if top is None:
                return None  # reorganization-only window: no rows, no commit
            end = int(top)

            def attempt(base):
                since = last_committed_txn(target_dir, app_id)
                if since is not None and end <= since:
                    return None  # recognized replay (at-least-once delivery)
                # A redelivered window may OVERLAP the consumed one (fresh
                # checkpoint against an advanced watermark): apply only the
                # rows past the watermark. A tail would otherwise
                # double-append already-consumed rows (it cannot converge by
                # rewrite), and the mirror's key guard would see the
                # overlap's inserts without their pre-window deletes.
                window = (
                    batch_df.filter(F.col("_commit_version") > since)
                    if since is not None
                    else batch_df
                )
                return apply(window, base, end)

            return _retry(target_dir, attempt, "stream into")
        finally:
            batch_df.unpersist()

    return write_batch


def tail_stream_batch_sink(target_dir: str, app_id: str, transform=None):
    """foreachBatch sink appending one change-feed micro-batch —
    `tail_into`'s apply step (`_apply_tail_batch`) in `_watermarked_sink`,
    so foreachBatch at-least-once redelivery no-ops. `transform` must be
    deterministic (the same contract tail_into and Structured Streaming
    document)."""
    return _watermarked_sink(
        target_dir, app_id,
        lambda window, base, end: _apply_tail_batch(
            window, target_dir, base, app_id, end, transform
        ),
    )


def mirror_stream_batch_sink(target_dir: str, keys: list[str], app_id: str):
    """foreachBatch sink applying one change-feed micro-batch as a
    delete-propagating mirror — `mirror_into`'s net-reduce/guard/merge
    (`_apply_mirror_batch`) in `_watermarked_sink`, so a batch redelivered
    after checkpoint recovery no-ops. Returns the per-batch result dict,
    or None for empty/replayed batches."""
    return _watermarked_sink(
        target_dir, app_id,
        lambda window, base, end: _apply_mirror_batch(
            window, target_dir, base, keys, app_id, end
        ),
    )


def _start_stream(
    spark: SparkSession,
    source,
    path: str,
    options: dict[str, str],
    sink,
    checkpoint_dir: str | None,
):
    """Register the Python data source class `source`, read its change
    feed at `path` with `options`, and start a foreachBatch(`sink`) query
    that drains the pending window and stops (availableNow — the
    reference's restart pattern). Returns the StreamingQuery."""
    spark.dataSource.register(source)
    feed = (
        spark.readStream.format(source.name())
        .option("path", path)
        .options(**options)
        .load()
    )
    writer = feed.writeStream.foreachBatch(sink)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def tail_stream(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    transform=None,
    app_id: str | None = None,
    checkpoint_dir: str | None = None,
):
    """STREAMING twin of `tail_until_drained` — the reference's exact
    consumer shape (`NB/BQ Writer Stream.py:9-32`:
    ``spark.readStream.option("skipChangeCommits", "true")`` + append
    sink) as a real Structured Streaming query over the
    `versioned_changes` source: rewrite commits are skipped WHOLESALE,
    additions append to the target, and the consumed source version
    rides inside every target commit (txn watermark); a redelivered
    window that merely OVERLAPS the consumed one appends only the rows
    past the watermark, so exactly-once holds even across a lost
    checkpoint. Returns the StreamingQuery (availableNow: drain and
    stop), or None when the source has no versions yet (batch parity
    with tail_into)."""
    from near_public_lakehouse_spark.sources.versioned_stream import (
        VersionedChangesDataSource,
    )

    if latest_version(source_dir) is None:
        return None  # batch parity: tail_into no-ops on an unwritten source
    app = app_id or f"tail:{os.path.abspath(source_dir)}"
    return _start_stream(
        spark, VersionedChangesDataSource, source_dir, _TAIL_FEED,
        tail_stream_batch_sink(target_dir, app, transform), checkpoint_dir,
    )


def mirror_stream(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    keys: list[str],
    app_id: str | None = None,
    checkpoint_dir: str | None = None,
):
    """STREAMING twin of `mirror_until_drained` (VERDICT r12 task #3): a
    real Structured Streaming query — `readStream` over the
    `versioned_changes` Python data source (offsets = commit versions,
    changed files read executor-side as Arrow batches;
    `sources/versioned_stream.py`) into a `foreachBatch` sink built on the
    same `_apply_mirror_batch` as the batch mirrors. This is the repo-side
    shape of the reference's continuous publication consumer
    (`NB/BQ Writer Stream.py:9-32`), with deletes propagated — the
    downstream the reference's skipChangeCommits tail cannot have.

    Exactly-once is double-locked: Spark's checkpoint replans identical
    windows from the immutable log, and the consumed source version rides
    inside every target commit (txn watermark), so a replayed micro-batch
    no-ops — crash anywhere between target commit and checkpoint commit
    and the restart converges. The query drains the pending window and
    stops (the availableNow restart pattern).

    Returns the StreamingQuery, or None when the source has no versions
    yet (batch parity with mirror_into). At every micro-batch boundary the
    target's row set equals the source snapshot at the consumed version —
    the same invariant as `mirror_into`, pinned against randomized commit
    histories in tests/test_versioned_stream.py."""
    from near_public_lakehouse_spark.sources.versioned_stream import (
        VersionedChangesDataSource,
    )

    if latest_version(source_dir) is None:
        return None  # batch parity: mirror_into no-ops on an unwritten source
    app = app_id or f"mirror:{os.path.abspath(source_dir)}"
    return _start_stream(
        spark, VersionedChangesDataSource, source_dir, _MIRROR_FEED,
        mirror_stream_batch_sink(target_dir, keys, app), checkpoint_dir,
    )


def delta_mirror_stream(
    spark: SparkSession,
    delta_table_dir: str,
    target_dir: str,
    keys: list[str],
    app_id: str | None = None,
    checkpoint_dir: str | None = None,
):
    """STREAMING twin of `delta_mirror_into` (VERDICT r14 task #4): a real
    Structured Streaming query — `readStream` over the `delta_changes`
    Python data source (offsets = Delta commit versions, changed files
    read executor-side with the full protocol semantics: deletion
    vectors, column mapping, partition reconstitution;
    `sources/delta_stream.py`) into the SAME `mirror_stream_batch_sink`
    as the manifest-store mirror. This is the repo-side shape of the
    reference's continuous publication consumer (`NB/BQ Writer
    Stream.py:9-32`) with deletes propagated.

    Exactly-once is double-locked exactly as in `mirror_stream`: Spark's
    checkpoint replans identical windows from the immutable _delta_log,
    and the consumed DELTA version rides inside every target commit (txn
    watermark), so a replayed or overlapping micro-batch no-ops /
    re-scopes. The query drains the pending window and stops.
    Returns the StreamingQuery. Same contract as the batch drain: the
    window's JSON commits must exist and removed files must be inside
    the publish-side vacuum retention window."""
    from near_public_lakehouse_spark.sources.delta_stream import (
        DeltaChangesDataSource,
    )

    app = app_id or f"delta-mirror:{os.path.abspath(delta_table_dir)}"
    return _start_stream(
        spark, DeltaChangesDataSource, delta_table_dir, _MIRROR_FEED,
        mirror_stream_batch_sink(target_dir, keys, app), checkpoint_dir,
    )


def delta_tail_stream(
    spark: SparkSession,
    delta_table_dir: str,
    target_dir: str,
    transform=None,
    app_id: str | None = None,
    checkpoint_dir: str | None = None,
):
    """The reference's EXACT consumer shape over a published Delta table
    (`NB/BQ Writer Stream.py:9-15`: ``spark.readStream.option(
    "skipChangeCommits", "true")`` + append sink) as a real Structured
    Streaming query over the `delta_changes` source: rewrite commits
    skipped wholesale, additions appended via `tail_stream_batch_sink`
    (txn-watermarked, overlap-scoped — exactly-once across lost
    checkpoints). Returns the StreamingQuery."""
    from near_public_lakehouse_spark.sources.delta_stream import (
        DeltaChangesDataSource,
    )

    app = app_id or f"delta-tail:{os.path.abspath(delta_table_dir)}"
    return _start_stream(
        spark, DeltaChangesDataSource, delta_table_dir, _TAIL_FEED,
        tail_stream_batch_sink(target_dir, app, transform), checkpoint_dir,
    )


def idempotent_batch_sink(table_dir: str, app_id: str, transform=None):
    """foreachBatch sink into a versioned table with Delta's idempotent-
    write contract: the Structured Streaming `batch_id` is committed as
    this writer's txn version, so a batch REPLAYED after a checkpoint
    recovery (the documented foreachBatch at-least-once hazard) is detected
    and skipped instead of double-appended. Use as

        df.writeStream.foreachBatch(versioned.idempotent_batch_sink(dir, qid))

    Returns True when the batch committed, False when it was a recognized
    replay. Structured Streaming runs one instance of a query at a time, so
    the txn check races only with a crashed predecessor's leftover commit —
    which every retry attempt re-checks."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> bool:
        last = last_committed_txn(table_dir, app_id)
        if last is not None and batch_id <= last:
            return False
        out = transform(batch_df) if transform is not None else batch_df
        files = _write_data(out, table_dir)
        schema = out.schema.json()

        def attempt(base):
            if (cur := last_committed_txn(table_dir, app_id)) is not None and batch_id <= cur:
                return False  # lost a race to a replay of ourselves
            _commit(
                table_dir, "streaming-append", _files_at(table_dir, base) + files,
                base, schema, txn={app_id: batch_id},
            )
            return True

        return _retry(table_dir, attempt, "streaming append to")

    return write_batch


# --- keyed writes --------------------------------------------------------------


def versioned_upsert(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    keys: list[str],
    when_matched_update: bool = True,
    ignore_null_updates: bool = False,
) -> int:
    """MERGE `source` into the versioned table (same matched/insert-only/
    IGNORE-NULL semantics as operators.merge.merge_upsert, M1) as one
    atomic commit. On a lost race the merge is RE-DERIVED against the
    winner's snapshot — upserts don't commute, so stale results are thrown
    away, which is exactly Delta's conflict-retry behavior."""
    from near_public_lakehouse_spark.operators.merge import merged_frame

    def attempt(base):
        merged = source if base is None else merged_frame(
            read_version(spark, table_dir, base),
            source,
            keys,
            when_matched_update=when_matched_update,
            ignore_null_updates=ignore_null_updates,
        )
        files = _write_data(merged, table_dir)
        return _commit(table_dir, "upsert", files, base, merged.schema.json())

    return _retry(table_dir, attempt, "upsert into")


def versioned_scd2(
    spark: SparkSession,
    table_dir: str,
    changes: DataFrame,
    keys: list[str],
    sequence_by: str,
    n_buckets: int | None = None,
) -> int:
    """SCD Type-2 APPLY CHANGES as one atomic commit on the versioned
    table: dimension history WITH time travel — ``read_version(dir, n)``
    answers "what did this dimension's history (and its __scd_current__
    rows) look like at version n", and the change feed shows each apply as
    one commit. The history is `operators.scd.scd2_rebuild` — the same
    rebuild `apply_changes_scd2` runs on the parquet store (stored
    changes, reaffirmed sequences included, union the new ones: idempotent,
    out-of-order convergent, drifted columns null-filled); atomicity,
    optimistic concurrency and lost-race re-derivation follow
    versioned_upsert's discipline — SCD2 applies don't commute either, so
    a lost race recomputes against the winner's snapshot.

    ``n_buckets`` is the 100 TB path, mirroring apply_changes_scd2's
    key-hash bucket fencing but expressed in this store's native currency
    — per-file footer stats: history rows carry a ``__scd_bucket__``
    column, the initial write repartitions on it so each file spans few
    buckets, and an apply CARRIES OVER (by manifest reference, no IO) every
    base file whose min/max stats prove it holds no touched bucket. Only
    candidate files are read and rewritten, so a batch touching 0.1% of
    keys re-reads and re-writes ~0.1% of the table. Files without usable
    stats are conservatively treated as candidates — pruning is never a
    correctness filter."""
    from near_public_lakehouse_spark.operators.scd import (
        BUCKET_COL,
        _touched_buckets,
        scd2_rebuild,
    )

    def attempt(base):
        m = _read_manifest(table_dir, base) if base is not None else {}
        stored_cols = {
            f["name"] for f in json.loads(m.get("schema", "{}")).get("fields", [])
        }
        # The bucket count is a LAYOUT constant: pruning with a different
        # modulus than the stored rows were bucketed under silently
        # corrupts the history (a touched key's old rows can land in
        # "untouched" — r14 review). Every scd2 commit records its count
        # in manifest meta; the pruned path runs ONLY when the recorded
        # count matches the requested one. A mismatch — or a pre-r14
        # table with buckets but no recorded count — takes the full
        # rewrite below, which re-buckets under the requested count and
        # records it (the documented migration path, correct at any
        # count, just not incremental). A feed that adds a column takes
        # it too, so no carried file lacks a column of the new history.
        recorded_buckets = m.get("meta", {}).get("scd2_n_buckets")
        if (
            n_buckets
            and BUCKET_COL in stored_cols
            and recorded_buckets == n_buckets
            and set(changes.columns) <= stored_cols
        ):
            touched = _touched_buckets(changes, keys, n_buckets)
            stats = m.get("stats", {})
            keep, candidates = [], []
            for f in m["files"]:
                st = stats.get(f)
                hits = st is None or any(
                    _file_matches(st, [(BUCKET_COL, "=", b)]) for b in touched
                )
                (candidates if hits else keep).append(f)
            cand = _read_files(spark, table_dir, candidates, m["schema"])
            in_touched = F.col(BUCKET_COL).isin(touched)
            hist = scd2_rebuild(
                cand.filter(in_touched), changes, keys, sequence_by, n_buckets
            )
            out = (
                cand.filter(~in_touched)
                .unionByName(hist, allowMissingColumns=True)
                .repartition(max(1, min(len(touched) + 1, n_buckets)), BUCKET_COL)
            )
            files = keep + _write_data(out, table_dir)
        else:
            # first write, unbucketed apply, widened feed, or the
            # migration of a table bucketed differently (or not at all)
            # into the requested layout: one full rewrite; subsequent
            # applies prune.
            stored = read_version(spark, table_dir, base) if base is not None else None
            out = scd2_rebuild(stored, changes, keys, sequence_by, n_buckets)
            if n_buckets:
                out = out.repartition(n_buckets, BUCKET_COL)
            files = _write_data(out, table_dir)
        return _commit(
            table_dir, "scd2", files, base, out.schema.json(),
            meta={"scd2_n_buckets": int(n_buckets or 0)},
        )

    return _retry(table_dir, attempt, "scd2 apply into")
