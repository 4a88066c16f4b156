"""`medallion_stream`: the paper's own pipeline, fed like Autoloader.

The fixture generator's block/shard JSON lands in a raw directory in
waves, and `plans.pipeline.run_incremental` refreshes the medallion tables
from one checkpoint after each wave (closed loop, one client).

The bulk backfill wave (BACKFILL_BLOCKS blocks) is run once per checkout
and engine version, in its own process, and its raw files, tables and
checkpoints are kept under `.perfbench/cache`; its wall time is kept with
it. Every run restores that state at the same absolute path (the
checkpoints record absolute file paths), lands one small wave of
WAVE_BLOCKS blocks and times its refresh. The seed sets the order the
wave's files land in; the amount of work is the same for every seed. The
final tables must equal a full `run_batch` refresh over the same files,
recorded in `expected_medallion.json` (re-record with `--record`), except
`silver_access_keys`, which must equal a DuckDB oracle of its change fold.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import sys
import time
import traceback
from pathlib import Path

from perfbench import checks
from perfbench.common import ROOT, WORK, HostCpu, dir_bytes

BACKFILL_BLOCKS = 12
WAVE_BLOCKS = 3
FINAL_BLOCKS = BACKFILL_BLOCKS + WAVE_BLOCKS
N_SHARDS = 2
CACHE_VERSION = "medallion-v2"
PLAN_LAYERS = ("silver", "events", "scd_tables", "public")
# plans modules as the pipeline's node bodies name them (plans/pipeline.py);
# a body naming none of them (silver_deployed_contracts) counts as silver
_MODULE_LAYER = {"ev": "events", "scd_feeds": "scd_tables", "pub": "public"}
# the first context restart in a fresh JVM is the slow one; 7 set-ups keep
# the median among the steady ones
SETUP_SAMPLES = 7


def land(stage: Path, raw: Path, heights: list[int], rng: random.Random) -> tuple[float, int, int]:
    """Copy a wave's files into the raw directory in seeded order; return
    (perf_counter when the last file was written, files, bytes)."""
    files = [f for h in heights for f in sorted(stage.glob(f"{h:012d}.*"))]
    rng.shuffle(files)
    for f in files:
        shutil.copyfile(f, raw / f.name)
    return time.perf_counter(), len(files), sum(f.stat().st_size for f in files)


def node_layer(build_fn) -> str:
    names = set(build_fn.__code__.co_names)
    return next((layer for mod, layer in _MODULE_LAYER.items() if mod in names), "silver")


def _file_sizes(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, filenames in os.walk(path):
        for f in filenames:
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out


def instrument(tracer) -> None:
    """Wrap the pipeline's node bodies and the two stateful operators."""
    import near_public_lakehouse_spark.operators.merge as merge_mod
    import near_public_lakehouse_spark.plans.pipeline as pl

    current = {"node": None}

    def wrap_node(t, fn):
        layer = node_layer(fn)

        def build(spark, inputs):
            if current["node"] is not None:
                tracer.close(current["node"])
            current["node"] = tracer.open(f"node:{t.name}", layer=layer, node=t.name)
            df = fn(spark, inputs)
            tracer.spans[current["node"]]["streaming"] = df.isStreaming
            return df

        return build

    def wrap_build_pipeline(orig):
        def build_pipeline(spark, out_dir, processed_time=None):
            p = orig(spark, out_dir, processed_time)
            for t in p.tables.values():
                t.build = wrap_node(t, t.build)
            return p

        return build_pipeline

    def wrap_operator(kind):
        def make(orig):
            def call(spark, path, *args, **kwargs):
                before = _file_sizes(path)
                with tracer.span(f"operators.{kind}", op=kind) as s:
                    result = orig(spark, path, *args, **kwargs)
                after = _file_sizes(path)
                s["rewritten_b"] = sum(
                    size for f, (size, m) in after.items() if before.get(f) != (size, m)
                )
                return result

            return call

        return make

    tracer.wrap_attr(pl, "build_pipeline", wrap_build_pipeline)
    tracer.wrap_attr(pl, "apply_changes", wrap_operator("scd"))
    tracer.wrap_attr(merge_mod, "merge_upsert", wrap_operator("merge"))


STATE_DIRS = ("raw", "tables", "checkpoints")


def cache_dir() -> Path:
    return WORK / "cache" / CACHE_VERSION


def cache_key() -> str:
    """Hash of everything that shapes the cached state: the engine's
    sources, this file and the backfill's size."""
    h = hashlib.sha256(f"{CACHE_VERSION} {BACKFILL_BLOCKS} {N_SHARDS}".encode())
    files = sorted((ROOT / "near_public_lakehouse_spark").rglob("*.py"))
    for f in [*files, Path(__file__).resolve()]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build_backfill(spark_setup, run_dir: Path) -> dict:
    """Land the backfill wave in height order, refresh once, and keep the
    resulting state in the cache. Returns the session and the wall time."""
    from near_public_lakehouse_spark.plans.pipeline import run_incremental
    from near_public_lakehouse_spark.sources.fixtures import generate_fixtures

    raw, out = run_dir / "raw", run_dir / "tables"
    out.mkdir()  # run_incremental needs out_dir to exist (README, defect 1)
    spark = spark_setup(lambda s: None)
    t0 = time.perf_counter()
    generate_fixtures(str(raw), n_blocks=BACKFILL_BLOCKS, n_shards=N_SHARDS)
    run_incremental(spark, str(raw), str(out), str(run_dir / "checkpoints"))
    wall = time.perf_counter() - t0
    tmp = cache_dir().with_name(f".{CACHE_VERSION}.{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    for d in STATE_DIRS:
        shutil.copytree(run_dir / d, tmp / d)
    meta = {"backfill_s": wall, "run_dir": str(run_dir), "key": cache_key()}
    (tmp / "meta.json").write_text(json.dumps(meta))
    shutil.rmtree(cache_dir(), ignore_errors=True)
    os.replace(tmp, cache_dir())
    return {"spark": spark, "backfill_s": wall}


def cache_valid(run_dir: Path) -> bool:
    """The cached state is usable only at the path it was built at, and
    only if the code that built it is the code about to run."""
    path = cache_dir() / "meta.json"
    if not path.is_file():
        return False
    meta = json.loads(path.read_text())
    return meta["run_dir"] == str(run_dir) and meta.get("key") == cache_key()


def restore_backfill(run_dir: Path) -> dict:
    meta = json.loads((cache_dir() / "meta.json").read_text())
    for d in STATE_DIRS:
        shutil.copytree(cache_dir() / d, run_dir / d)
    return meta


def run(spark_setup, seed: int, run_dir: Path, tracer_factory=None) -> dict:
    """Restore the backfill, land one seeded small wave, time its refresh
    and check the tables. `spark_setup(warm_up)` sets the session up (and
    times it); `tracer_factory(spark)` is given for a traced run."""
    from near_public_lakehouse_spark.sources.fixtures import generate_fixtures

    rng = random.Random(seed)
    meta = restore_backfill(run_dir)
    stage, raw = run_dir / "stage", run_dir / "raw"
    out, ckpt = run_dir / "tables", run_dir / "checkpoints"
    counts = generate_fixtures(str(stage), n_blocks=FINAL_BLOCKS, n_shards=N_SHARDS)
    probe = run_dir / "probe"
    probe.mkdir()
    for f in stage.glob(f"{0:012d}.*"):
        shutil.copyfile(f, probe / f.name)

    def warm_up(spark):
        from near_public_lakehouse_spark.plans import pipeline  # noqa: F401
        from near_public_lakehouse_spark.sources.json_stream import read_blocks

        read_blocks(spark, str(probe)).count()

    spark = spark_setup(warm_up, SETUP_SAMPLES)
    tracer = tracer_factory(spark) if tracer_factory else None
    if tracer:
        instrument(tracer)
        tracer.listen_streaming()
    import near_public_lakehouse_spark.plans.pipeline as pl

    raw_before = dir_bytes(raw)
    cpu = HostCpu()
    sid = tracer.open("wave", phase="wave") if tracer else None
    stamp, n_files, n_bytes = land(stage, raw, list(range(BACKFILL_BLOCKS, FINAL_BLOCKS)), rng)
    failed = 0
    try:
        pl.run_incremental(spark, str(raw), str(out), str(ckpt))
    except Exception:
        failed += 1
        traceback.print_exc(file=sys.stderr)
    wall = time.perf_counter() - stamp
    if tracer:
        tracer.close(sid)
    host = cpu.delta()

    digests = checks.digest_tables(out)
    expected = checks.load_expected()[str(FINAL_BLOCKS)]
    problems = checks.medallion_problems(digests, expected)
    problems += checks.silver_count_problems(digests, counts)
    stored = dir_bytes(out)
    raw_bytes = raw_before + n_bytes
    res = {
        "spark": spark,
        "ops": [wall],
        "attempted": 1 + len(expected) + 4,
        "failed": failed + len(problems),
        "problems": problems,
        "host": host,
        "timed_s": wall,
        "named_metrics": {
            "wave_p50_s": wall,
            "waves": 1,
            "wave_blocks": WAVE_BLOCKS,
            "backfill_s_at_build": meta["backfill_s"],
            "stored_bytes_per_raw_byte": stored / raw_bytes,
        },
        "layers": {},
        "tracer": tracer,
    }
    if tracer:
        res["layers"] = layer_metrics(tracer, sid, n_files, n_bytes, out, ckpt, stored / raw_bytes)
    return res


def layer_metrics(tracer, sid, n_files, n_bytes, out: Path, ckpt: Path, stored_ratio) -> dict:
    wall = tracer.wall
    ph = tracer.spans[sid]
    nodes = [s for s in tracer.children(sid) if s["name"].startswith("node:")]
    streamed = [n for n in nodes if n.get("streaming")]
    rebuilt = [n for n in nodes if not n.get("streaming")]
    tracer.wait_progress(len(streamed))
    tracer.attribute(tracer.stages())
    prog = [p for p in tracer.progress if ph["start"] <= p["ts"] < ph["end"]]

    def dur(*keys):
        return sum(p["durationMs"].get(k, 0) for p in prog for k in keys)

    m: dict[str, float] = {}
    for layer in PLAN_LAYERS:
        mine = [n for n in nodes if n["layer"] == layer]
        m[f"plans.{layer}.wall_s"] = sum(wall(n) for n in mine)
        m[f"plans.{layer}.task_s"] = sum(tracer.rollup(n["id"], "task_s") for n in mine)
        m[f"plans.{layer}.stages"] = sum(tracer.rollup(n["id"], "stages") for n in mine)
    stream_wall = sum(wall(n) for n in streamed)
    m["sources.json_stream.files_per_wave"] = n_files
    m["sources.json_stream.input_rows"] = sum(p["numInputRows"] for p in prog)
    m["sources.json_stream.latest_offset_ms"] = dur("latestOffset")
    m["sources.json_stream.get_batch_ms"] = dur("getBatch")
    m["streaming.runner.streamed_nodes"] = len(streamed)
    m["streaming.runner.rebuilt_nodes"] = len(rebuilt)
    m["streaming.runner.rebuild_wall_s"] = sum(wall(n) for n in rebuilt)
    m["streaming.runner.stream_wall_s"] = stream_wall
    m["streaming.runner.add_batch_ms"] = dur("addBatch")
    m["streaming.runner.commit_ms"] = dur("walCommit", "commitOffsets")
    m["streaming.runner.query_overhead_s"] = stream_wall - dur("triggerExecution") / 1000.0
    rewritten = 0
    for kind in ("scd", "merge"):
        ops = [s for s in tracer.spans if s.get("op") == kind]
        m[f"operators.{kind}.wall_s"] = sum(wall(s) for s in ops)
        m[f"operators.{kind}.rewritten_mb"] = sum(s["rewritten_b"] for s in ops) / 2**20
        rewritten += sum(s["rewritten_b"] for s in ops)
    m["operators.write_amplification"] = rewritten / n_bytes
    m["storage.table_files"] = sum(1 for _ in out.rglob("*.parquet"))
    m["storage.checkpoint_mb"] = dir_bytes(ckpt) / 2**20
    m["storage.stored_bytes_per_raw_byte"] = stored_ratio
    m["trace.unattributed_s.wave"] = wall(ph) - sum(wall(n) for n in nodes)
    return m


def record(spark_setup, run_dir: Path) -> dict:
    """Full `run_batch` refresh over the final block count a run reaches
    -> expected digests per table, keyed by that block count. The
    `silver_access_keys` digest is the DuckDB oracle's (checks.py), which
    `run_batch` does not match (README, defect 3)."""
    from near_public_lakehouse_spark.plans.pipeline import run_batch
    from near_public_lakehouse_spark.sources.fixtures import generate_fixtures

    spark = spark_setup(lambda s: None)
    raw, out = run_dir / "raw", run_dir / "tables"
    generate_fixtures(str(raw), n_blocks=FINAL_BLOCKS, n_shards=N_SHARDS)
    out.mkdir()  # run_batch needs out_dir to exist (README, defect 1)
    run_batch(spark, str(raw), str(out))
    tables = checks.digest_tables(out)
    batch_keys = tables["silver_access_keys"]
    tables["silver_access_keys"] = checks.access_keys_oracle(out)
    record = {str(FINAL_BLOCKS): tables}
    if batch_keys != tables["silver_access_keys"]:
        # kept beside the oracle's digest as the record of defect 3 (README)
        record["run_batch_silver_access_keys"] = batch_keys
    return {"spark": spark, "tables": record}
