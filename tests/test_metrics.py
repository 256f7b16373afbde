"""Pins for the REST stage-metrics helper (findb_spark.metrics), which the
benchmark's tracer (perfbench/spans.py) reads for per-span executor cost.

The load-bearing behavior is the FIELD-DRIFT GUARD (round-10 advisor): a
renamed REST metric field across Spark versions must surface as
"unmeasured" in the caller's report, never as silently-zeroed evidence —
zero spill that means "endpoint changed" would be misread as "plan
problem, not saturation"."""

from __future__ import annotations

import io
import json

import findb_spark.metrics as M


class _FakeSC:
    uiWebUrl = "http://fake:4040"
    applicationId = "app-test"


class _FakeSpark:
    sparkContext = _FakeSC()


def _stage(sid):
    st = {f: 1000 for f in M.SUM_FIELDS}
    st[M.PEAK_FIELD] = 2 * 1024 * 1024
    st["stageId"] = sid
    st["attemptId"] = 0
    return st


def _serve(monkeypatch, payload):
    monkeypatch.setattr(
        M.urllib.request,
        "urlopen",
        lambda url, timeout=0: io.BytesIO(json.dumps(payload).encode()),
    )


def test_snapshot_all_fields_present(monkeypatch):
    _serve(monkeypatch, [_stage(1), _stage(2)])
    snap, missing = M.stages_snapshot(_FakeSpark())
    assert missing == []
    assert set(snap) == {(1, 0), (2, 0)}


def test_snapshot_reports_missing_fields(monkeypatch):
    dropped = dict(_stage(1))
    del dropped["memoryBytesSpilled"], dropped["executorCpuTime"]
    _serve(monkeypatch, [dropped])
    snap, missing = M.stages_snapshot(_FakeSpark())
    assert sorted(missing) == ["executorCpuTime", "memoryBytesSpilled"]
    # the snapshot still returns (zero-filled) so the run keeps going,
    # but the caller now KNOWS those zeros are unmeasured
    assert snap[(1, 0)]["memoryBytesSpilled"] == 0


def test_snapshot_fetch_failure_is_a_reason_not_a_zero(monkeypatch):
    def boom(url, timeout=0):
        raise OSError("connection refused")

    monkeypatch.setattr(M.urllib.request, "urlopen", boom)
    snap, missing = M.stages_snapshot(_FakeSpark())
    assert snap is None and missing == ["fetch-failed: OSError"]


def test_snapshot_ui_disabled():
    class NoUI:
        class sparkContext:
            uiWebUrl = None
            applicationId = "x"

    snap, missing = M.stages_snapshot(NoUI())
    assert snap is None and missing == ["ui-disabled"]


def test_empty_store_returns_marker_not_validated(monkeypatch):
    """Zero complete stages = the field validation could not run; an empty
    missing-list would read as 'all fields measured' (round-11 advisor)."""
    _serve(monkeypatch, [])
    snap, missing = M.stages_snapshot(_FakeSpark())
    assert snap == {} and missing == [M.NO_STAGES_MARKER]


def test_settled_snapshot_waits_for_listener_bus(monkeypatch):
    """The settled variant must poll past a still-draining store: the
    first fetches disagree (a stage lands between them), the next pair
    agrees and is returned — a raw snapshot would have returned the
    incomplete first fetch (round-11 advisor: lagging stage-completed
    events mis-attribute cost to the next timed span)."""
    payloads = iter(
        [[_stage(1)], [_stage(1), _stage(2)], [_stage(1), _stage(2)]]
    )
    monkeypatch.setattr(
        M.urllib.request,
        "urlopen",
        lambda url, timeout=0: io.BytesIO(json.dumps(next(payloads)).encode()),
    )
    snap, missing = M.settled_stages_snapshot(_FakeSpark(), poll_s=0.0)
    assert set(snap) == {(1, 0), (2, 0)}
    assert missing == []
