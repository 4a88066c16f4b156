"""Shared harness pieces: work directories, the host-sized Spark session,
host contention counters and the result line.

Everything the benchmark writes lives under ``<checkout>/.perfbench``; the
Spark scratch space, the JVM temp dir and Python's ``tempfile`` are pointed
there before the JVM starts, so a run touches nothing outside its checkout.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
# The engine's sf0.01 testdata, byte for byte (see README.md).
TABLES = Path(__file__).resolve().parent / "tables"

# Small on purpose: the host is shared, and the sizing runs showed every
# workload member is bound by per-job overhead, not by data or threads.
MAX_THREADS = 4
MAX_HEAP_MB = 2048


def host_shape() -> dict:
    nproc = os.cpu_count() or 1
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    threads = min(nproc, MAX_THREADS)
    heap_mb = min(MAX_HEAP_MB, phys_mb // 4)
    return {"nproc": nproc, "threads": threads, "heap_mb": heap_mb, "phys_mb": phys_mb}


def run_path(workload: str) -> Path:
    return WORK / "run" / workload


def prepare_dirs(workload: str) -> Path:
    """Fresh per-run directory; also reroutes every temp-file user into it."""
    run_dir = run_path(workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_WAREHOUSE_DIR"] = str(run_dir / "warehouse")
    tempfile.tempdir = str(tmp)
    return run_dir


def import_engine():
    """Put the checkout on sys.path and import the package, or stop the run
    with a non-zero exit when the program is not there."""
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    try:
        import near_public_lakehouse_spark  # noqa: F401
    except ImportError as e:
        sys.stderr.write(f"perfbench: cannot import the engine package: {e}\n")
        sys.exit(2)


def start_session(shape: dict, run_dir: Path, traced: bool):
    from near_public_lakehouse_spark.session import get_spark

    tmp = str(run_dir / "tmp")
    conf = {
        "spark.driver.memory": f"{shape['heap_mb']}m",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if traced else "false",
    }
    if traced:
        conf.update(
            {
                "spark.ui.port": "0",
                "spark.ui.retainedStages": "20000",
                "spark.ui.retainedJobs": "20000",
                "spark.ui.retainedTasks": "1000",
            }
        )
    spark = get_spark(app_name="perfbench", cpus=shape["threads"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_setups(shape: dict, run_dir: Path, traced: bool, warm_up, samples: int):
    """Set the session up `samples` times and return (spark, setup walls,
    session-start walls). Each sample is session start plus the workload's
    warm-up probe; the first also pays the JVM launch and the engine
    imports, the later ones restart the SparkContext in the same JVM."""
    walls, starts, spark = [], [], None
    for _ in range(samples):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(shape, run_dir, traced)
        t1 = time.perf_counter()
        warm_up(spark)
        walls.append(time.perf_counter() - t0)
        starts.append(t1 - t0)
    return spark, walls, starts


def _children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").glob("*/children"):
        try:
            out += [int(p) for p in task.read_text().split()]
        except OSError:
            pass
    return out


def descendants(pid: int | None = None) -> list[int]:
    todo, seen = [pid or os.getpid()], []
    while todo:
        for c in _children(todo.pop()):
            seen.append(c)
            todo.append(c)
    return seen


def jvm_peak_rss_mb() -> float:
    """Peak resident set of the driver JVM (the child running java)."""
    best = 0.0
    for pid in descendants():
        try:
            status = Path(f"/proc/{pid}/status").read_text()
            if "java" not in Path(f"/proc/{pid}/comm").read_text():
                continue
        except OSError:
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                best = max(best, int(line.split()[1]) / 1024)
    return best


def close_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every process this run
    started (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    kids = descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone; we only need it ended
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if Path(f"/proc/{p}").exists() and not _zombie(p)]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return True


def tree_cpu_ticks() -> int:
    """CPU ticks (user + system) used so far by this process and every
    descendant: the driver JVM and its Python workers. Exited children
    count through their parent's cutime/cstime once they are reaped."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            f = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited between listing and reading
        total += sum(int(x) for x in f[11:15])
    return total


class HostCpu:
    """CPU accounting over a timed region. `cpu_s` is the CPU time the run's
    own processes used. Steal and host system seconds from /proc/stat are
    contention evidence only, never used to discard or re-run a sample."""

    def __init__(self):
        self.start = self._read()

    @staticmethod
    def _read() -> tuple[int, int, int]:
        with open("/proc/stat") as f:
            vals = list(map(int, f.readline().split()[1:]))
        return vals[7], vals[2], tree_cpu_ticks()

    def delta(self) -> dict:
        hz = os.sysconf("SC_CLK_TCK")
        d = [(b - a) / hz for a, b in zip(self.start, self._read())]
        return {"steal_s": d[0], "sys_s": d[1], "cpu_s": d[2]}


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def emit(summary: dict, correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """A readable summary line, then the result object as the LAST line."""
    print("summary " + json.dumps(summary, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
