"""Checks of the benchmark itself.

    python -m pytest perfbench/tests -q

A planted wrong expectation must surface as failed ops on every
workload (``fail_ratio > 0``), the result line must carry exactly the
metrics BENCHMARK.json names, and span self time must exclude children.
The Spark tests use tiny shapes: each starts and stops its own JVM.
"""

from __future__ import annotations

import functools
import json
import os
import sys

import pytest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(PERFBENCH)
for p in (PERFBENCH, REPO):
    if p not in sys.path:
        sys.path.insert(0, p)

import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

TINY = {"data": (2, 2000), "pos": (1, 300), "eq": (1, 300)}


def tiny(cls, **kw):
    """A workload object on a tiny shape, with a one-cycle warm-up."""
    wl = cls(**kw)
    wl.WARMUP_CYCLES = 1
    return wl


def _bench() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(autouse=True)
def _root(monkeypatch):
    monkeypatch.setattr(run, "ROOT", REPO)


def test_self_time_excludes_children():
    t = tracing.Tracer()
    with t.span("outer"):
        with t.span("child"):
            pass
        with t.span("child"):
            pass
    selfs = t.self_times()
    outer, c1, c2 = t.spans
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    assert selfs[outer["id"]] == pytest.approx(dur(outer) - dur(c1) - dur(c2))
    assert c1["parent"] == outer["id"] and c2["parent"] == outer["id"]


def test_closed_forms_match_a_direct_sum():
    for lo, hi in [(0, 1), (5, 123), (9, 10_001), (99_990, 100_020)]:
        ids = range(lo, hi)
        assert workloads.expected_aggregate(lo, hi) == (
            len(ids), sum(ids), sum(len(str(g)) for g in ids), len(ids)
        )


class PlantedDatagen(workloads.Datagen):
    """Expects one row too many on every timed op."""

    WARMUP_CYCLES = 0

    def setup(self, ctx):
        super().setup(ctx)
        self.expected = {**self.expected, "derived_total": self.expected["derived_total"] + 1}


class PlantedMorScan(workloads.MorScan):
    WARMUP_CYCLES = 0

    def _expected(self, kind):
        exp = super()._expected(kind)
        if getattr(self, "planted", False) and kind == "pruned":
            return (exp[0] + 1, *exp[1:])
        return exp

    def setup(self, ctx):
        super().setup(ctx)
        self.planted = True


def test_datagen_result_line_and_clean_run():
    rec = run.run("datagen", 1, 0.5, False, wl=tiny(workloads.Datagen, shape=TINY))
    res = rec["result"]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in _bench()["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_planted_datagen_expectation_fails_ops():
    rec = run.run("datagen", 1, 0.5, False, wl=PlantedDatagen(TINY))
    assert rec["detail"]["fail_ratio"] > 0
    assert not rec["result"]["correct"]


def test_planted_morscan_expectation_fails_ops():
    rec = run.run("mor-scan", 1, 0.5, False, wl=PlantedMorScan(TINY))
    assert rec["detail"]["failed_kinds"] == ["pruned"]
    assert rec["detail"]["fail_ratio"] > 0


def test_planted_oracle_fails_query_ops(monkeypatch):
    from iceberg_data_gen_spark import operators

    operators.load_all()
    monkeypatch.setitem(operators.ORACLES, "q6_forecast_revenue", "SELECT 1 AS revenue")
    wl = workloads.QueryMix(names=["q6_forecast_revenue", "q_dedup_exact"])
    rec = run.run("query-mix", 1, 0.5, False, wl=wl)
    assert rec["detail"]["failed_kinds"] == ["q6_forecast_revenue"]
    assert rec["detail"]["fail_ratio"] == pytest.approx(0.5)


def test_wrong_rows_on_warm_calls_only_fail_query_ops(monkeypatch):
    """The cold pass in setup gets the right rows, every later (warm)
    call drops one: the check after the timed region must catch it, for
    an oracle-bearing operator and for a rows-only one."""
    from iceberg_data_gen_spark import operators

    operators.load_all()
    planted = ["q3_shipping_priority", "q_minhash_lsh"]
    for name in planted:
        fn = operators.QUERIES[name]

        @functools.wraps(fn)
        def warm_wrong(spark, sf_dir, _fn=fn, _calls=[0]):
            _calls[0] += 1
            df = _fn(spark, sf_dir)
            return df if _calls[0] == 1 else df.limit(max(df.count() - 1, 0))

        monkeypatch.setitem(operators.QUERIES, name, warm_wrong)
    wl = workloads.QueryMix(names=[*planted, "q6_forecast_revenue"])
    rec = run.run("query-mix", 1, 0.5, False, wl=wl)
    assert rec["detail"]["failed_kinds"] == planted
    assert rec["detail"]["fail_ratio"] == pytest.approx(2 / 3)


def test_traced_run_reports_every_per_layer_metric():
    rec = run.run("mor-scan", 1, 0.5, True, wl=tiny(workloads.MorScan, shape=TINY))
    names = {m["name"] for m in _bench()["per_layer"]}
    assert set(rec["result"]["metrics"]) == names
    layer = rec["detail"]["per_layer"]
    assert layer["table.files_pruned"] > 0 and layer["spark.jobs"] > 0
    assert os.path.isfile(os.path.join(REPO, rec["detail"]["trace_file"]))


class HeapHoggingDatagen(workloads.Datagen):
    """Keeps 256 MiB alive on the JVM heap from setup on."""

    def setup(self, ctx):
        super().setup(ctx)
        self.hog = ctx.spark.sparkContext._jvm.java.nio.ByteBuffer.allocate(256 << 20)


def test_peak_mem_follows_the_programs_heap():
    plain = run.run("datagen", 1, 1.0, False, wl=tiny(workloads.Datagen, shape=TINY))
    hog = run.run("datagen", 1, 1.0, False, wl=tiny(HeapHoggingDatagen, shape=TINY))
    mb = lambda rec: rec["result"]["metrics"]["peak_mem_mb"]["value"]  # noqa: E731
    assert mb(hog) - mb(plain) > 200
