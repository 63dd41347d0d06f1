"""Smoke tests of the benchmark itself: tiny runs of each workload.

    python -m pytest perfbench/test_smoke.py -q

Each test boots its own Spark session through ``run.run`` (about 20-40 s
each). They check that every metric named in BENCHMARK.json is emitted with
its unit, and that a deliberately wrong expectation shows up as failed
operations instead of passing silently.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from perfbench import common, gen, run
from perfbench.analytics_batch import AnalyticsWorkload
from perfbench.ingest_api import IngestWorkload
from perfbench.serve_reads import ReadsWorkload

SPEC = run.load_spec()


def tiny_ingest(spark, work, seed, plan_cls=gen.IngestPlan):
    return IngestWorkload(
        spark, work, seed, plan=plan_cls(seed, full_size=20, small_size=(3, 5))
    )


def tiny_reads(spark, work, seed, plan_cls=gen.ReadPlan):
    wl = ReadsWorkload(
        spark, work, seed, plan=plan_cls(seed, runs=2, per_run=20, page_size=5)
    )
    wl.warmup_cycles = 1
    return wl


def tiny_analytics(spark, work, seed):
    return AnalyticsWorkload(
        spark, work, seed,
        queries=("q1_pricing_summary", "text_stats_docs"), scale=0.001,
    )


def one_run(factory, *, trace: bool, seconds: float = 1.0):
    values, out = run.run(
        "smoke", 7, seconds, trace,
        factory=lambda _name, spark, work, seed: factory(spark, work, seed),
        t_start=time.perf_counter(),
    )
    return values, out


def assert_emits_everything(values, out, *, traced: bool):
    for trace in (False, True) if traced else (False,):
        result = run.result_object(values, out, SPEC, trace)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        assert [m["name"] for m in wanted] == list(result["metrics"])
        for m in wanted:
            got = result["metrics"][m["name"]]
            assert got["unit"] == m["unit"]
            assert isinstance(got["value"], float)
        json.dumps(result)
    for m in SPEC["end_to_end"]:
        assert values[m["name"]] > 0, m["name"]
    assert out.attempted > 0


@pytest.mark.parametrize("factory", [tiny_ingest, tiny_reads, tiny_analytics])
def test_tiny_run_emits_every_metric(factory):
    values, out = one_run(factory, trace=True)
    assert out.failed == 0, out.problems
    assert_emits_everything(values, out, traced=True)


class WrongCounts(gen.IngestPlan):
    """Predicts one more loaded record than each batch can load."""

    def next_round(self, **kw):
        batches = super().next_round(**kw)
        for b in batches:
            b.expected["load_count"] += 1
        return batches


class WrongStatus(gen.ReadPlan):
    """Expects every lookup to return 200 with an MRN no patient has."""

    def client_cycles(self, client):
        for cycle in super().client_cycles(client):
            for req in cycle:
                if req.kind == "lookup":
                    req.expect_status, req.expect_mrns = 200, ["MRN-NOBODY"]
            yield cycle


@pytest.mark.parametrize(
    "factory",
    [
        lambda s, w, seed: tiny_ingest(s, w, seed, WrongCounts),
        lambda s, w, seed: tiny_reads(s, w, seed, WrongStatus),
    ],
    ids=["ingest_counts", "read_status"],
)
def test_wrong_expectation_raises_error_rate(factory):
    values, out = one_run(factory, trace=False, seconds=3.0)
    assert out.failed > 0
    assert out.error_rate > 0
    assert run.result_object(values, out, SPEC, False)["correct"] is False


def test_spec_is_within_contract():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert {w["name"] for w in SPEC["workloads"]} <= set(run.WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    assert SPEC["paths"] == ["perfbench"]
    assert os.path.isdir(os.path.join(common.REPO, "perfbench"))
