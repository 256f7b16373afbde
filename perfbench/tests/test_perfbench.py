"""Tests of the benchmark itself (not of the engine).

    python -m pytest perfbench/tests -q

The smoke tests start a SparkSession per workload on tiny inputs and take
a few minutes.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pytest

from perfbench import gen, run, workloads
from perfbench.spans import Span, Tracer
from perfbench.stats import tail

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_prices_deterministic_per_seed():
    a = gen.gen_prices(np.random.default_rng([1, gen.TAG_TABLE]), 20, 60, 2.0)
    b = gen.gen_prices(np.random.default_rng([1, gen.TAG_TABLE]), 20, 60, 2.0)
    c = gen.gen_prices(np.random.default_rng([2, gen.TAG_TABLE]), 20, 60, 2.0)
    assert a.equals(b)
    assert not a.equals(c)


def test_prices_ts_strictly_increasing_per_asset():
    t = gen.gen_prices(np.random.default_rng(3), 20, 60, 2.0).to_pandas()
    assert t.groupby("asset_id")["ts"].apply(lambda s: s.is_unique).all()
    # revisions of one (asset, date) come later than the first print
    first = t.groupby(["asset_id", "date"])["ts"].transform("min")
    assert (t["ts"] >= first).all()


def test_suite_tables_and_op_inputs_deterministic_per_seed():
    def tables(seed):
        return gen.gen_suite_tables(np.random.default_rng([seed, gen.TAG_SUITE]), 1)

    a, b, c = tables(1), tables(1), tables(2)
    assert all(a[k].equals(b[k]) for k in a)
    assert not all(a[k].equals(c[k]) for k in a)
    u = gen.PriceUniverse(1, 300, 750, 1_600_000_000)
    assert gen.point_query(1, 5, u) == gen.point_query(1, 5, u)
    assert gen.point_query(1, 5, u) != gen.point_query(2, 5, u)
    assert gen.batch_queries(1, 0, u, 50).equals(gen.batch_queries(1, 0, u, 50))
    assert not gen.probes(1, 0, u, 50, 0).equals(gen.probes(2, 0, u, 50, 0))


def test_revision_reads_bracket_the_commit():
    u = gen.PriceUniverse(1, 10, 60, 1_500_000_000)
    t0 = 1_500_086_400
    revs = gen.revisions(1, 3, u, 20, t0)
    reads = gen.revision_reads(1, 3, u, revs, 4, t0)
    commit_lo = t0 + 3 * gen.REVISION_STEP_S
    commit_hi = commit_lo + gen.REVISION_SPREAD_S
    assert all(commit_hi <= r[3] < commit_lo + gen.REVISION_STEP_S for r in reads[:-1])
    assert reads[-1][3] == commit_lo - 1
    assert revs["ts"].to_numpy().min() >= commit_lo
    assert revs["ts"].to_numpy().max() < commit_hi


def test_tail_picks_highest_percentile_with_ten_beyond():
    pct, v = tail([float(x) for x in range(1, 101)])
    assert (pct, v) == (90.0, 90.0)
    pct, v = tail([float(x) for x in range(1, 41)])
    assert (pct, v) == (75.0, 30.0)
    assert sum(x > v for x in range(1, 41)) == 10
    # too few samples for any tail beyond the median: report the maximum
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0)


def test_self_time_subtracts_child_spans():
    tr = Tracer()
    tr.spans = [
        Span(1, "asof.exec", None, 0, 0.0, 1.0),
        Span(2, "layout.read_prices", 1, 0, 0.2, 0.5),
        Span(3, "layout.read_prices", 1, 0, 0.4, 0.7),  # overlaps span 2
    ]
    self_s = tr.self_seconds()
    assert self_s["asof"] == pytest.approx(0.5)
    assert self_s["layout"] == pytest.approx(0.6)


def test_benchmark_json_names():
    b = _benchmark()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert {w["name"] for w in b["workloads"]} <= set(workloads.WORKLOADS)
    assert "setup_s" in {m["name"] for m in b["end_to_end"]}


@pytest.fixture()
def tiny(monkeypatch):
    """Shrink every workload's inputs so a run takes seconds."""
    monkeypatch.setattr(workloads.PricesWorkload, "n_assets", 12)
    monkeypatch.setattr(workloads.PricesWorkload, "n_days", 60)
    monkeypatch.setattr(workloads.ReviseRead, "n_assets", 8)
    monkeypatch.setattr(workloads, "BATCH_QUERIES", 10)
    monkeypatch.setattr(workloads, "JOIN_PROBES", 200)
    monkeypatch.setattr(workloads, "LOAD_REPS", 1)


def _run(capsys, workload: str, trace: int) -> tuple[dict, dict]:
    assert run.main(["--workload", workload, "--seed", "7", "--seconds", "2", "--trace", str(trace)]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


@pytest.mark.slow
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_run_is_correct_and_emits_end_to_end_metrics(tiny, capsys, workload):
    result, detail = _run(capsys, workload, 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert detail["failed_frac"] == 0.0
    want = {m["name"]: m["unit"] for m in _benchmark()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.slow
def test_traced_run_emits_every_per_layer_metric(tiny, capsys):
    result, detail = _run(capsys, "revise_read", 1)
    assert result["correct"]
    want = {m["name"]: m["unit"] for m in _benchmark()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["versioning.commit_ms"] > 0 and m["asof.jobs_per_op"] > 0
    assert m["asof.tasks_per_op"] >= m["asof.stages_per_op"] > 0
    assert isinstance(detail["unmeasured"], list)

