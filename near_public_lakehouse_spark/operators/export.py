"""Public-dataset file exports (K4): hourly folder dumps of published
tables, `<base>/<format>/<table>/<YYYY/MM/DD/HH>/` — the OSS mapping of the
reference's hourly Avro exports to GCS (NEAR Public Datasets.py:396-409).

The Avro DataSource (`spark-avro`) is an external Spark module this
container's pyspark does not bundle; the writer probes for it at runtime.
When it is absent, avro exports go through the repo's own Avro OCF
implementation (`sources/avro_ocf.py` — pure-Python encoder over
mapInArrow, verified byte-compatible with the JVM org.apache.avro reader
in tests/test_avro_ocf.py), so `fmt="avro"` produces REAL avro bytes
either way. The export contract (path scheme, overwrite-by-hour
idempotence, schema round-trip) is format-independent.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

_AVRO_PROBE: bool | None = None


def avro_available(spark: SparkSession) -> bool:
    """True iff the spark-avro DataSource actually works (functional probe:
    a classpath check is not enough — Spark 4 ships some
    `org.apache.spark.sql.avro` classes without registering the format)."""
    global _AVRO_PROBE
    if _AVRO_PROBE is None:
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="avro_probe_")
        try:
            spark.createDataFrame([(1,)], "id long").write.format("avro").mode(
                "overwrite"
            ).save(f"{d}/probe")
            _AVRO_PROBE = True
        except Exception:
            _AVRO_PROBE = False
        finally:
            shutil.rmtree(d, ignore_errors=True)
    return _AVRO_PROBE


def hourly_export_path(base_path: str, fmt: str, table: str, ts: datetime) -> str:
    """`<base>/<fmt>/<table>/<Y/m/d/H>` — the reference's folder scheme."""
    return f"{base_path}/{fmt}/{table}/{ts.strftime('%Y/%m/%d/%H')}"


# Formats the export seam supports out of the box. avro is the reference's
# actual format (NEAR Public Datasets.py:396-409) and is used when the
# DataSource is present; orc/csv prove the seam is format-generic with the
# builtin sources this container does ship.
EXPORT_FORMATS = ("parquet", "orc", "csv", "avro")

_WRITE_OPTIONS: dict[str, dict[str, str]] = {
    "csv": {"header": "true"},
}


def _is_nested(dt) -> bool:
    from pyspark.sql.types import ArrayType, MapType, StructType

    return isinstance(dt, (ArrayType, MapType, StructType))


def _require_local_path(base_path: str, what: str) -> None:
    """Fail loudly where control-plane IO is driver-local `os`/`open`: the
    OCF-fallback avro writer and the hour markers cannot target
    object-store/DFS URIs the way the Spark-writer formats can. Without
    this check an `s3://...` base would silently become a literal local
    directory named "s3:"."""
    import re

    m = re.match(r"^([a-z][a-z0-9+.-]*)://", base_path, re.IGNORECASE)
    if m and m.group(1).lower() != "file":
        raise ValueError(
            f"{what} uses driver-local filesystem IO and cannot target "
            f"{m.group(1)}:// paths; use a mounted/local base path, or a "
            "Spark-writer format (parquet/orc/csv, or avro with spark-avro "
            "present) written by export_hourly directly"
        )


def export_hourly(
    df: DataFrame,
    base_path: str,
    table: str,
    ts: datetime,
    fmt: str | None = None,
) -> str:
    """Write one hour's export of `df`; returns the path written.

    Overwrite mode makes the hourly job idempotent (a rerun of the same
    hour replaces, never duplicates — the reference reruns trailing hours
    after late-data MERGEs). `fmt=None` auto-selects avro when present.

    CSV is flat-rows-only: nested columns are rejected up front (silently
    stringified exports are a trap for the consumer — to_json them first).
    """
    spark = df.sparkSession
    if fmt is None:
        fmt = "avro"
    if fmt not in EXPORT_FORMATS:
        raise ValueError(f"unsupported export format {fmt!r}; one of {EXPORT_FORMATS}")
    if fmt == "csv":
        nested = [f.name for f in df.schema.fields if _is_nested(f.dataType)]
        if nested:
            raise ValueError(
                f"csv export requires flat columns; nested: {nested} "
                "(wrap them in to_json(...) first)"
            )
    path = hourly_export_path(base_path, fmt, table, ts)
    if fmt == "avro" and not avro_available(spark):
        from near_public_lakehouse_spark.sources.avro_ocf import write_avro

        _require_local_path(base_path, "the OCF-fallback avro writer")
        write_avro(df, path)
        return path
    writer = df.write.format(fmt).mode("overwrite")
    for k, v in _WRITE_OPTIONS.get(fmt, {}).items():
        writer = writer.option(k, v)
    writer.save(path)
    return path


def read_export(spark: SparkSession, path: str, fmt: str, schema=None):
    """Read an export back. CSV round-trips dtypes only with the writer's
    schema (pass `df.schema`); other formats are self-describing."""
    if fmt == "avro" and not avro_available(spark):
        from near_public_lakehouse_spark.sources.avro_ocf import read_avro

        return read_avro(spark, path)
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", "true")
        reader = reader.schema(schema) if schema is not None else reader.option(
            "inferSchema", "true"
        )
    return reader.load(path)


# --- incremental hourly export scheduler -----------------------------------

_DONE_MARKER = "_EXPORTED"


def avro_stream_sink(
    stream_df: DataFrame,
    staging_path: str,
    base_path: str,
    table: str,
    ts_col: str,
    *,
    checkpoint_path: str,
    late_tolerance_hours: int = 1,
    reexport_trailing: int = 0,
    fmt: str = "avro",
    now_fn=None,
):
    """Streaming variant of the hourly publication path: a `writeStream`
    sink that drains a stream into a staging store and publishes every
    hour the stream has CLOSED as an hourly export folder — the
    reference's silver -> public-datasets flow as one continuous query
    instead of a scheduled batch job.

    Two-layer exactly-once, both layers idempotent under foreachBatch
    replays:
      1. staging: each micro-batch overwrites its own
         ``batch_id=<epoch id>`` subdirectory, so a replayed batch
         rewrites the same files instead of appending duplicates;
      2. publication: `export_closed_hours` marker fencing skips
         already-exported hours, and the OCF writer's deterministic bytes
         make a crash between data and marker a no-op rewrite.

    The publication clock is EVENT TIME by default: an hour is closed
    when the staging high-watermark has moved past hour end +
    `late_tolerance_hours` — the same discipline as a streaming
    watermark, and deterministic for tests/backfills. Pass `now_fn`
    (-> datetime) to fence on wall clock instead (production cron
    parity). Returns the StreamingQuery; exported paths accumulate under
    `<base_path>/<fmt>/<table>/...`.

    Per-trigger cost stays BOUNDED over the stream's lifetime (round-6
    ADVICE — it used to rescan all of staging every batch and keep every
    batch dir forever):
      - the high-watermark is tracked incrementally: each trigger scans
        only ITS OWN batch for max(ts) and folds it into a `_WATERMARK`
        sidecar (a monotone max, so a replayed batch folds the same value
        in again — idempotent);
      - each staged dir records its own max ts in a `_BATCH_HI` sidecar,
        and after publication every dir whose newest row sits strictly
        below the oldest hour any future trigger could still export
        (cutoff minus the forced re-export window) is deleted — its rows
        are all in marker-fenced exports. Staging therefore holds only
        the open + late-tolerance + trailing window, so the per-trigger
        union read is bounded too.
    """
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from near_public_lakehouse_spark.functions.time import NS_PER_HOUR, _floordiv
    from near_public_lakehouse_spark.streaming.jobs import (
        _read_batches,
        _start_batches,
        _write_batch,
    )

    _require_local_path(base_path, "avro_stream_sink (its hour markers)")
    # staging also uses driver-local open/listdir/rmtree (_BATCH_HI,
    # _WATERMARK, retention sweep) — same guard (r13 review)
    _require_local_path(staging_path, "avro_stream_sink (its staging state)")

    def _publish(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bdir = _write_batch(batch_df, staging_path, batch_id)
        # batch-local max(ts): reads back just this trigger's files
        bhi = spark.read.parquet(bdir).agg(F.max(ts_col).alias("hi")).collect()[0].hi
        if bhi is not None:
            with open(os.path.join(bdir, "_BATCH_HI"), "w") as fh:
                json.dump({"hi": int(bhi)}, fh)
        wm_path = os.path.join(staging_path, "_WATERMARK")
        hi = None
        if os.path.exists(wm_path):
            # tolerate a truncated/corrupt watermark as absent — the same
            # crash-mid-write discipline as publish.py's _CURSOR (r13
            # review: a JSONDecodeError here wedged every restart)
            try:
                with open(wm_path) as fh:
                    obj = json.load(fh)
                hi = obj.get("hi") if isinstance(obj, dict) else None
                if not isinstance(hi, int):
                    hi = None
            except (json.JSONDecodeError, OSError):
                hi = None
        if bhi is not None and (hi is None or int(bhi) > hi):
            hi = int(bhi)
            # atomic replace: a crash never leaves a half-written file
            tmp_wm = f"{wm_path}.tmp.{os.getpid()}"
            with open(tmp_wm, "w") as fh:
                json.dump({"hi": hi}, fh)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp_wm, wm_path)
        if now_fn is not None:
            now = now_fn()
        elif hi is None:
            return
        else:
            # floor-divide the ns BIGINT driver-side (float division would
            # round near hour boundaries — the repo-wide ns discipline)
            now = datetime.utcfromtimestamp(hi // 1_000_000_000)
        staged = _read_batches(spark, staging_path).drop("batch_id")
        export_closed_hours(
            staged,
            base_path,
            table,
            ts_col,
            now,
            late_tolerance_hours=late_tolerance_hours,
            reexport_trailing=reexport_trailing,
            fmt=fmt,
        )
        # prune staged dirs whose every row is below the safe fence: the
        # oldest hour a future trigger could still (re-)export. Closed
        # hours are marker-fenced, so their rows live in the exports now;
        # the forced-trailing window is held back because re-export
        # re-filters staging.
        import calendar

        cutoff_hour = (
            calendar.timegm(now.timetuple()) // 3600 - late_tolerance_hours
        )
        safe_hour = cutoff_hour
        if reexport_trailing:
            staged_hours = sorted(
                r.h
                for r in staged.select(
                    _floordiv(F.col(ts_col), NS_PER_HOUR).alias("h")
                )
                .distinct()
                .filter(F.col("h") < cutoff_hour)
                .collect()
            )
            forced = staged_hours[-reexport_trailing:]
            if forced:
                safe_hour = min(forced)
        for name in os.listdir(staging_path):
            d = os.path.join(staging_path, name)
            sidecar = os.path.join(d, "_BATCH_HI")
            if not (name.startswith("batch_id=") and os.path.exists(sidecar)):
                continue
            with open(sidecar) as fh:
                dir_hi = json.load(fh)["hi"]
            if dir_hi // NS_PER_HOUR < safe_hour:
                shutil.rmtree(d)

    return _start_batches(stream_df, _publish, checkpoint_path)


def export_closed_hours(
    df: DataFrame,
    base_path: str,
    table: str,
    ts_col: str,
    now: datetime,
    late_tolerance_hours: int = 1,
    reexport_trailing: int = 0,
    fmt: str = "avro",
) -> list[str]:
    """Incremental hourly export: write every hour of `df` that has CLOSED
    (hour end + late tolerance <= now) and is not yet exported; optionally
    force-re-export the newest `reexport_trailing` closed hours (the
    reference re-runs trailing hours after late-data MERGEs — NEAR Public
    Datasets.py:150-154's 1-3 day trailing windows, compressed to hours at
    testdata scale). Returns the list of paths written.

    Idempotence is two-layer: a `_EXPORTED` marker skips completed hours on
    rerun, and the avro writer itself is deterministic (byte-identical
    rewrite) so a crash between data and marker just rewrites the same
    bytes. The hour list is a bounded driver-side aggregate (one row per
    distinct hour) — control plane, not data plane. `ts_col` is the ns
    BIGINT event-time column (the engine contract for events)."""
    import os

    from pyspark.sql import functions as F

    from near_public_lakehouse_spark.functions.time import NS_PER_HOUR, _floordiv

    import calendar

    _require_local_path(base_path, "export_closed_hours (its hour markers)")
    spark = df.sparkSession
    # timegm, not .timestamp(): a naive `now` must mean UTC regardless of
    # the submitting machine's zone (the engine's pinned-UTC discipline).
    cutoff_hour = calendar.timegm(now.timetuple()) // 3600 - late_tolerance_hours
    hours = [
        r.h
        for r in df.select(_floordiv(F.col(ts_col), NS_PER_HOUR).alias("h"))
        .distinct()
        .filter(F.col("h") < cutoff_hour)
        .orderBy("h")
        .collect()
    ]
    forced = set(hours[-reexport_trailing:]) if reexport_trailing else set()
    written: list[str] = []
    for h in hours:
        ts = datetime.utcfromtimestamp(h * 3600)
        path = hourly_export_path(base_path, fmt, table, ts)
        marker = os.path.join(path, _DONE_MARKER)
        if os.path.exists(marker) and h not in forced:
            continue
        hour_df = df.filter(_floordiv(F.col(ts_col), NS_PER_HOUR) == h)
        export_hourly(hour_df, base_path, table, ts, fmt=fmt)
        with open(marker, "w") as fh:
            fh.write(f"{h}\n")
        written.append(path)
    return written
