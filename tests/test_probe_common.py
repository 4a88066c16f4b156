"""tools/probe_common.py without a Spark UI: the stage diff over canned
REST payloads, the REST getter with the UI off, and the host CPU-time
reader on a canned `cpu` line."""

from __future__ import annotations

import io
import json
import os
from types import SimpleNamespace

import pytest

from tools import probe_common


def _fake_spark(ui="http://ui.invalid:4040"):
    return SimpleNamespace(sparkContext=SimpleNamespace(uiWebUrl=ui, applicationId="app-1"))


def _stage(sid, run_ms, shr=0, shw=0, inp=0, tasks=1, cpu_ns=0):
    return {
        "stageId": sid,
        "executorRunTime": run_ms,
        "executorCpuTime": cpu_ns,
        "shuffleReadBytes": shr,
        "shuffleWriteBytes": shw,
        "inputBytes": inp,
        "numTasks": tasks,
        "name": f"stage {sid}",
    }


def _serve(monkeypatch, payloads):
    """urlopen answers each call with the next canned payload and logs the
    URL it was asked for."""
    calls = []

    def urlopen(url, timeout):
        calls.append(url)
        return io.BytesIO(json.dumps(payloads.pop(0)).encode())

    monkeypatch.setattr(probe_common.urllib.request, "urlopen", urlopen)
    return calls


def test_stage_diff_counts_only_new_stages(monkeypatch):
    mib = 2**20
    before_payload = [_stage(0, 500, shw=mib), _stage(1, 300)]
    after_payload = before_payload + [
        _stage(2, 1200, shr=mib, shw=3 * mib, tasks=4),
        _stage(3, 800, shr=3 * mib, inp=mib // 2, tasks=2),
    ]
    calls = _serve(monkeypatch, [before_payload, after_payload])
    spark = _fake_spark()
    before = probe_common.stage_snapshot(spark)
    after = probe_common.stage_snapshot(spark)
    assert len(calls) == 2
    assert all(c.endswith("/applications/app-1/stages") for c in calls)
    assert set(before) == {0, 1}
    assert probe_common.diff_stages(before, after) == {
        "n_stages": 2,
        "task_time_ms": 2000,
        "shuffle_read_mb": 4.0,
        "shuffle_write_mb": 3.0,
        "input_mb": 0.5,
        "n_tasks": 6,
    }
    assert probe_common.diff_stages(after, after)["n_stages"] == 0


def test_rest_is_empty_when_ui_is_off(monkeypatch):
    def urlopen(*_a, **_k):
        raise AssertionError("no request may be made without a UI")

    monkeypatch.setattr(probe_common.urllib.request, "urlopen", urlopen)
    spark = _fake_spark(ui=None)
    assert probe_common.rest(spark, "stages") == []
    assert probe_common.stage_snapshot(spark) == {}
    assert probe_common.max_task_ms(spark, set()) == (0.0, 0.0)


def test_rest_is_empty_when_the_call_fails(monkeypatch):
    def urlopen(*_a, **_k):
        raise OSError("connection refused")

    monkeypatch.setattr(probe_common.urllib.request, "urlopen", urlopen)
    assert probe_common.rest(_fake_spark(), "jobs") == []


def test_cpu_times_converts_ticks_and_leaves_steal_and_guest_out_of_busy(tmp_path):
    hz = os.sysconf("SC_CLK_TCK")
    # user nice system idle iowait irq softirq steal guest guest_nice
    ticks = [5000, 100, 2000, 90000, 700, 30, 70, 4000, 1500, 200]
    stat = tmp_path / "stat"
    stat.write_text(
        "cpu  " + " ".join(map(str, ticks)) + "\ncpu0 1 2 3 4 5 6 7 8 9 10\n"
    )
    t = probe_common.cpu_times(str(stat))
    assert t["steal"] == pytest.approx(4000 / hz)
    assert t["system"] == pytest.approx(2000 / hz)
    assert t["guest"] == pytest.approx(1500 / hz)
    # guest time is already inside user/nice; steal never ran here
    assert t["busy"] == pytest.approx((5000 + 100 + 2000 + 30 + 70) / hz)


def test_cpu_times_on_a_kernel_without_steal_or_guest(tmp_path):
    hz = os.sysconf("SC_CLK_TCK")
    stat = tmp_path / "stat"
    stat.write_text("cpu  10 20 30 400 50 6 7\n")
    t = probe_common.cpu_times(str(stat))
    assert "steal" not in t
    assert t["busy"] == pytest.approx((10 + 20 + 30 + 6 + 7) / hz)
    assert probe_common.cpu_times(str(tmp_path / "missing")) is None
