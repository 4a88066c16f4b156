"""Schema evolution for live streams — field ADDITION propagation (T8).

The reference's warehouse writer runs with `allowFieldAddition` /
`allowFieldRelaxation` on a live stream (NB/BQ Writer Stream.py:27-28):
when a new field shows up in the incoming data, the sink widens its
schema and keeps going; old rows read back with nulls in the new column.
The repo's historical policy was explicit-schema with drift-as-nulls —
an ADDED field was silently dropped at ingest because the file source
reads with a fixed schema. This module closes that gap (VERDICT r7
task #7):

- `merge_schemas(declared, observed)` — the union schema: observed
  fields not in declared are APPENDED as nullable (field addition,
  recursively through structs and array elements); numeric upcasts
  (byte<short<int<long, float<double, any-int<double) are accepted in
  either direction and resolve to the wider type (field relaxation);
  an irreconcilable type conflict raises instead of silently coercing.
- `read_json_evolving(...)` — the Autoloader-shaped source: probe the
  landing directory's current JSON schema, widen the declared schema,
  read (batch or stream) with the union. Spark's JSON reader backfills
  nulls for files that lack the new field, so the widened stream needs
  no rewrite of old data.
- `Pipeline` integration (`streaming/runner.py`): in incremental mode
  each write unions the schema recorded in the table dir
  (`operators.merge.record_schema`) instead of replacing it, so a field
  added mid-stream survives restarts, and reads of pre-addition parquet
  files (which simply lack the column) null-backfill via the union
  schema — parquet's missing-column semantics give relaxation for free.

Scale note: schema inference probes at most `probe_files` newest files
(default 64) rather than the whole landing zone — on a 100 TB bucket a
full-inference pass would be a second read of everything; the newest
files are the ones that can carry a newly added field. A production
deployment would instead version the writer's declared schema, but the
probe keeps this self-contained for file-drop pipelines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

_INT_ORDER = [ByteType(), ShortType(), IntegerType(), LongType()]
_FLOAT_ORDER = [FloatType(), DoubleType()]


def _widen(a: DataType, b: DataType, path: str) -> DataType:
    """Wider of two types, or raise when no safe widening exists."""
    if a == b:
        return a
    if isinstance(a, StructType) and isinstance(b, StructType):
        return merge_schemas(a, b, _path=path)
    if isinstance(a, ArrayType) and isinstance(b, ArrayType):
        return ArrayType(
            _widen(a.elementType, b.elementType, path + "[]"),
            a.containsNull or b.containsNull,
        )
    if a in _INT_ORDER and b in _INT_ORDER:
        return _INT_ORDER[max(_INT_ORDER.index(a), _INT_ORDER.index(b))]
    if a in _FLOAT_ORDER and b in _FLOAT_ORDER:
        return _FLOAT_ORDER[max(_FLOAT_ORDER.index(a), _FLOAT_ORDER.index(b))]
    if a in _INT_ORDER and b in _FLOAT_ORDER or a in _FLOAT_ORDER and b in _INT_ORDER:
        return DoubleType()
    raise ValueError(
        f"irreconcilable schema drift at {path!r}: "
        f"{a.simpleString()} vs {b.simpleString()}"
    )


def merge_schemas(
    declared: StructType, observed: StructType, _path: str = ""
) -> StructType:
    """Union schema: declared field order first (widened where observed
    relaxes a type), then observed-only fields appended as nullable —
    `allowFieldAddition` + `allowFieldRelaxation` as one pure function.
    Fields present only in `declared` are KEPT (a field disappearing
    from the input is drift-as-nulls, never a drop)."""
    by_name = {f.name: f for f in observed.fields}
    out: list[StructField] = []
    for f in declared.fields:
        o = by_name.pop(f.name, None)
        if o is None:
            out.append(f)
        else:
            out.append(
                StructField(
                    f.name,
                    _widen(f.dataType, o.dataType, f"{_path}.{f.name}".lstrip(".")),
                    f.nullable or o.nullable,
                )
            )
    for f in observed.fields:  # preserve observed order for the additions
        if f.name in by_name:
            out.append(StructField(f.name, f.dataType, True))
    return StructType(out)


def probe_json_schema(
    spark: SparkSession, path: str, glob: str | None = None, probe_files: int = 64
) -> StructType | None:
    """Infer the current on-disk JSON schema from at most `probe_files`
    NEWEST matching files (bounded — never a full-landing-zone pass).
    Returns None when nothing matches yet.

    Local filesystem ONLY — and loudly so (r14 review): os.walk yields
    nothing for an object-store URI, which would read as "no files yet"
    and silently disable the advertised field-addition propagation (new
    JSON fields dropped with no error — the exact T8 gap this module
    closes). A real deployment probes through its object-store listing
    API; until that seam exists, refusing beats lying."""
    import fnmatch

    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme and scheme != "file":
        raise ValueError(
            f"probe_json_schema walks the LOCAL filesystem; {path!r} has "
            f"scheme {scheme!r} — schema evolution cannot be probed there "
            "(an empty walk would silently disable field addition)"
        )
    if path.startswith("file://"):
        path = path[len("file://"):]  # os.walk needs the raw path

    # Capture mtime DURING the walk (r8 ADVICE): sorting with
    # key=os.path.getmtime after the fact is a TOCTOU on a live landing
    # zone — a file deleted between listing and sort would raise
    # FileNotFoundError and kill the stream start. Files that vanish
    # mid-walk are simply skipped.
    names: list[tuple[float, str]] = []
    for root, _dirs, files in os.walk(path):
        for n in files:
            if n.startswith(("_", ".")):
                continue
            if glob is None or fnmatch.fnmatch(n, glob):
                full = os.path.join(root, n)
                try:
                    mtime = os.stat(full).st_mtime
                except OSError:
                    continue
                names.append((mtime, full))
    if not names:
        return None
    names.sort()
    sample = [p for _, p in names[-probe_files:]]
    # A file can vanish between the walk above and the Spark job (live
    # landing zone with compaction/retention). ignoreMissingFiles only
    # covers files that disappear AFTER Spark's own listing (FileScanRDD
    # task time); an explicitly-listed path deleted before that raises
    # PATH_NOT_FOUND in DataSource path resolution, which the r13 fix
    # never reached (r14 review). So: catch it, re-filter the sample to
    # survivors, retry bounded; degrade to None when everything vanished.
    from pyspark.errors import AnalysisException

    for _ in range(3):
        if not sample:
            return None
        try:
            return (
                spark.read.format("json")
                .option("ignoreMissingFiles", "true")
                .load(sample)
                .schema
            )
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc):
                raise
            survivors = [p for p in sample if os.path.exists(p)]
            if len(survivors) == len(sample):
                raise  # error wasn't about OUR files vanishing: surface it
            sample = survivors
    return None  # pathological churn: every retry lost files; probe later


def read_json_evolving(
    spark: SparkSession,
    path: str,
    declared: StructType,
    glob: str | None = None,
    streaming: bool = False,
    max_files: int | None = None,
    probe_files: int = 64,
) -> DataFrame:
    """JSON file source with field-addition propagation: widen `declared`
    by the probed on-disk schema, then read batch or stream with the
    union schema. Files written before the addition null-backfill the
    new column (JSON reader semantics), so a restart after drift resumes
    from the same checkpoint with the wider schema — the reference's
    `allowFieldAddition` behavior for file-drop pipelines."""
    observed = probe_json_schema(spark, path, glob, probe_files)
    schema = declared if observed is None else merge_schemas(declared, observed)
    reader = spark.readStream if streaming else spark.read
    if max_files is not None and not streaming:
        raise ValueError("max_files only applies to streaming reads")
    if streaming and max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    reader = reader.format("json").schema(schema)
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
