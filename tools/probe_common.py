"""The one measurement helper for bench.py and the tools: Spark UI REST
reads, /proc/stat reads and the between-run release. Nothing else
outside perfbench/ opens the status API, parses /proc/stat or asks the
JVM to GC, so a fix to one of them reaches every caller. It lives in
tools/ and not in the package because it reaches the JVM through
`sparkContext._jvm`, which the package must not use."""

from __future__ import annotations

import gc
import http.client
import json
import os
import urllib.request

_HZ = os.sysconf("SC_CLK_TCK")
# the aggregate `cpu` line of /proc/stat, in order (proc(5))
_CPU_FIELDS = (
    "user", "nice", "system", "idle", "iowait",
    "irq", "softirq", "steal", "guest", "guest_nice",
)


def rest(spark, path: str):
    """GET `/api/v1/applications/<app>/<path>` as parsed JSON; `[]` when
    the UI is off or the call fails, so a caller without the UI degrades
    to empty metrics instead of failing (bench.py's contract)."""
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return []
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/{path}", timeout=10
        ) as r:
            return json.loads(r.read())
    except (OSError, ValueError, http.client.HTTPException):
        return []


def stage_snapshot(spark) -> dict[int, dict]:
    """stageId -> metrics from the UI REST API. Stage-level evidence makes
    the next environmental bench anomaly diagnosable from data (shuffle
    bytes / task time don't lie about machine contention) instead of
    re-run arbitration. Returns {} when the UI is unavailable."""
    return {
        st["stageId"]: {
            "task_time_ms": st.get("executorRunTime", 0),
            "cpu_time_ns": st.get("executorCpuTime", 0),
            "shuffle_read_bytes": st.get("shuffleReadBytes", 0),
            "shuffle_write_bytes": st.get("shuffleWriteBytes", 0),
            "input_bytes": st.get("inputBytes", 0),
            "n_tasks": st.get("numTasks", 0),
            "name": st.get("name", "?"),
        }
        for st in rest(spark, "stages")
    }


def diff_stages(before: dict[int, dict], after: dict[int, dict]) -> dict:
    """Totals over the stages in `after` whose ids `before` lacks: the
    stages a run started between the two snapshots."""
    new = [after[sid] for sid in after.keys() - before.keys()]
    return {
        "n_stages": len(new),
        "task_time_ms": sum(s["task_time_ms"] for s in new),
        "shuffle_read_mb": round(sum(s["shuffle_read_bytes"] for s in new) / 2**20, 2),
        "shuffle_write_mb": round(sum(s["shuffle_write_bytes"] for s in new) / 2**20, 2),
        "input_mb": round(sum(s["input_bytes"] for s in new) / 2**20, 2),
        "n_tasks": sum(s["n_tasks"] for s in new),
    }


def max_task_ms(spark, before) -> tuple[float, float]:
    """(max single-task ms, total task ms) across stages run since the
    stage ids in `before` — the straggler evidence: a hot key serialized
    into one task shows up as max ~= wall regardless of task count."""
    mx = tot = 0.0
    for s in rest(spark, "stages"):
        if s["stageId"] in before or s.get("status") not in ("COMPLETE", "ACTIVE"):
            continue
        tot += s.get("executorRunTime", 0)
        summ = rest(
            spark,
            f"stages/{s['stageId']}/{s.get('attemptId', 0)}/taskSummary?quantiles=1.0",
        )
        if summ:
            mx = max(mx, float(summ.get("executorRunTime", [0.0])[0]))
    return (mx, tot)


def release_session_state(spark) -> None:
    """Between-run release, outside any timed window: accumulated
    localCheckpoint RDD blocks and per-round broadcast hash tables are
    only reclaimed by the ContextCleaner after a driver-side GC, and a
    large heap GCs rarely. Without it, later runs on one session inherit
    block-manager pressure: near_dup read 20.5 s in-suite vs 13.7 s
    isolated (BENCH_LOCAL_r11), and consecutive probe runs on identical
    code read 2-4x apart."""
    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass  # metrics-only nicety; no timing depends on it


def cpu_times(path: str = "/proc/stat") -> dict[str, float] | None:
    """Seconds per field of the aggregate `cpu` line (ticks over
    SC_CLK_TCK), plus `busy`: everything but idle, iowait, steal, guest
    and guest_nice. guest/guest_nice are already folded into user/nice,
    so counting them again double-counts KVM-host guest load; steal is
    time the hypervisor gave OTHER guests and can never show in this
    guest's process tree. Fields a kernel lacks are absent. None when
    the file is unreadable."""
    try:
        with open(path) as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    out = {k: v / _HZ for k, v in zip(_CPU_FIELDS, ticks)}
    idle = ("idle", "iowait", "steal", "guest", "guest_nice")
    out["busy"] = sum(v for k, v in out.items() if k not in idle)
    return out


def proc_tree_cpu_jiffies(root_pid: int) -> int:
    """Sum utime+stime (+cutime+cstime) jiffies over `root_pid` and every
    live descendant. cutime/cstime fold in each process's already-REAPED
    children (r14 review: a PySpark python worker that exits inside the
    measurement window vanishes from a live-only walk, and its CPU would
    be misattributed to FOREIGN load — the JVM reaps it, so its final
    jiffies land in the JVM's cutime and stay in the own-tree sum).
    RUSAGE_CHILDREN alone can't do this: it only covers children of the
    CALLING process, not the JVM's."""
    info: dict[int, tuple[int, int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                s = fh.read()
        except OSError:
            continue  # raced a process exit
        fields = s[s.rindex(")") + 2 :].split()
        # fields after comm: state ppid ... utime(11) stime(12) cutime(13)
        # cstime(14) — cutime/cstime are reaped-children totals
        own = int(fields[11]) + int(fields[12]) + int(fields[13]) + int(fields[14])
        info[int(p)] = (int(fields[1]), own)
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in info.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        if pid in info:
            total += info[pid][1]
            stack.extend(kids.get(pid, ()))
    return total


def cpu_snapshot() -> tuple[float, float]:
    """(system busy seconds, own process-tree CPU seconds)."""
    return cpu_times()["busy"], proc_tree_cpu_jiffies(os.getpid()) / _HZ


def foreign_cores(before: tuple[float, float], after: tuple[float, float], wall: float) -> float:
    """Average EXTERNAL cores busy during the window — contention
    evidence for a single-run measurement that cannot multi-run."""
    if wall <= 0:
        return 0.0
    return max(0.0, (after[0] - before[0]) - (after[1] - before[1])) / wall
