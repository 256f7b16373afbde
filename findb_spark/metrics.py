"""Executor-side stage metrics via Spark's REST API (v1).

The caller is the benchmark's tracer (``perfbench/spans.py``): one settled
snapshot after a run gives the CPU, GC, shuffle and spill figures of every
stage, which it attributes to spans through their job groups.

Why REST and not the StatusTracker: the public PySpark StatusTracker
exposes job/stage/task COUNTS but not task metrics (spill bytes, GC time,
executor run time); the UI store's REST endpoint is the one public,
version-stable surface that has them.  Requires ``spark.ui.enabled=true``
on the session.

Field drift guard (round-10 advisor): a renamed metric field or endpoint
change across Spark versions must not silently report 0 spill/GC — zeroed
evidence would read as "plan problem, not saturation".  Every snapshot
validates the expected fields against the first stage fetched and carries
the missing-field list to the caller, which embeds it in its report so a
zero is distinguishable from "not measured".
"""

from __future__ import annotations

import json
import time
import urllib.request

#: Distinct marker for "the store had zero complete stages, so the field
#: validation could not run" (round-11 advisor): an empty store must not
#: return missing=[] — callers read that as "all fields measured".
NO_STAGES_MARKER = "no-stages-to-validate"

#: Per-stage task-metric fields summed over the stages a timed span ran.
#: executorRunTime (ms) is per-task ELAPSED time — it still inflates when
#: task threads contend for cores on a loaded box; executorCpuTime (ns)
#: is the OS CPU counter, the genuinely load-immune cost basis.
SUM_FIELDS = (
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "jvmGcTime",
    "executorRunTime",
    "executorCpuTime",
    "shuffleWriteBytes",
    "inputBytes",
)
#: max-aggregated (the unified-memory high-water mark deciding spills)
PEAK_FIELD = "peakExecutionMemory"


def stages_snapshot(spark) -> tuple[dict | None, list[str]]:
    """(stageId, attemptId) -> metric dict for every COMPLETE stage the UI
    store retains, plus the list of expected fields ABSENT from the first
    stage fetched (empty = all fields present = zeros are measured-zero).

    Returns ``(None, ["<reason>"])`` when the UI is off or the fetch
    fails, so callers can record WHY evidence is missing instead of
    silently attributing zeros."""
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None, ["ui-disabled"]
    app = spark.sparkContext.applicationId
    url = f"{ui}/api/v1/applications/{app}/stages?status=complete"
    try:
        with urllib.request.urlopen(url, timeout=30) as r:
            stages = json.load(r)
    except Exception as e:  # noqa: BLE001 — evidence harvest must not kill
        # the measurement run; the reason string marks it unmeasured
        return None, [f"fetch-failed: {type(e).__name__}"]
    if stages:
        first = stages[0]
        missing = [
            f for f in (*SUM_FIELDS, PEAK_FIELD) if f not in first
        ]
    else:
        # zero complete stages = nothing to validate against; a distinct
        # marker (not []) so callers can defer the verdict to a later,
        # non-empty snapshot instead of reading "all fields measured"
        missing = [NO_STAGES_MARKER]
    out: dict = {}
    for st in stages:
        key = (st.get("stageId"), st.get("attemptId"))
        out[key] = {f: int(st.get(f) or 0) for f in SUM_FIELDS}
        out[key][PEAK_FIELD] = int(st.get(PEAK_FIELD) or 0)
    return out, missing


def settled_stages_snapshot(
    spark, max_wait_s: float = 2.0, poll_s: float = 0.05
) -> tuple[dict | None, list[str]]:
    """Like :func:`stages_snapshot`, but SETTLED: the UI store is fed by an
    async listener bus, so a stage-completed event can land after the job's
    ``save()`` returns — a raw snapshot taken at that instant misses the
    stage and mis-attributes its cost to the next timed span (round-11
    advisor).  Polls until two consecutive fetches agree on the complete-
    stage key set (bounded by ``max_wait_s``), then returns the stable
    snapshot.  The bound keeps a wedged listener bus from hanging the
    benchmark; hitting it returns the last fetch (a lower bound, exactly
    what the unsettled call returned before)."""
    prev, prev_miss = stages_snapshot(spark)
    deadline = time.monotonic() + max_wait_s
    while time.monotonic() < deadline:
        time.sleep(poll_s)
        cur, cur_miss = stages_snapshot(spark)
        if prev is not None and cur is not None and set(cur) == set(prev):
            return cur, cur_miss
        prev, prev_miss = cur, cur_miss
    return prev, prev_miss

