"""Pins the bench stdout and detail-file contract.

Only a 2,000-char tail of bench.py's stdout is recorded, and its LAST
line is parsed as the run's record.  bench.py therefore prints a compact
final line ({metric, value, unit, queries, sf, warm_median}) and routes
the detail (per-pass timings, extras, host_ref, warm ratios, the probe
tier) to a side file.  These tests pin the final line under the budget
and the detail file's keys.  bench.py reports timings and does not judge
them: plan regressions are caught by the executed-plan locks in
tests/test_plans.py.
"""

from __future__ import annotations

import glob
import json
import os
import re

import bench

METRIC = "headline-query wall time (noop sink, tuned session)"


def _worst_case_timings() -> dict[str, float]:
    # every headline entry plus the datagen row, each at the widest
    # plausible rendering (5-digit seconds would mean a ~28h query)
    names = list(bench.HEADLINE) + ["datagen_2m_rows_mor"]
    return {n: 99999.999 for n in names}


def test_final_line_stays_under_driver_tail_budget():
    record = bench.final_record(
        METRIC, 99999.999, _worst_case_timings(), 0.1, warm_median=99999.999
    )
    line = json.dumps(record)
    assert len(line) < bench.MAX_FINAL_LINE, len(line)
    # and the renderer passes it through unmodified (no fallback taken)
    assert bench.render_final_line(record) == line


def test_final_record_carries_warm_median():
    """VERDICT r12 #3: the official BENCH_r{N} series must be
    host-normalizable from the parsed record alone — `warm_median` (the
    same-run query-only warm median, the warm-ratio denominator) rides
    in the final line, and its absence (the guarded-computation-failed
    path) degrades to the r10 shape rather than killing the record."""
    record = bench.final_record(METRIC, 42.0, {"q1": 1.0}, 0.1, 0.944)
    assert record["warm_median"] == 0.944
    assert json.loads(bench.render_final_line(record))["warm_median"] == 0.944
    fallback = bench.final_record(METRIC, 42.0, {"q1": 1.0}, 0.1, None)
    assert "warm_median" not in fallback


def test_render_final_line_drops_queries_rather_than_clip():
    # a future bug that balloons the per-query map must degrade to a
    # still-parseable headline-only line, never an unparseable clip
    bloated = {f"q_{i:04d}_some_long_query_name": 12345.678 for i in range(200)}
    record = bench.final_record(METRIC, 42.0, bloated, 0.1)
    line = bench.render_final_line(record)
    assert len(line) < bench.MAX_FINAL_LINE
    parsed = json.loads(line)
    assert parsed["value"] == 42.0
    assert parsed["metric"] == METRIC
    assert parsed["unit"] == "sec"
    assert "queries" not in parsed


def test_detail_path_is_keyed_to_the_upcoming_round():
    # BENCH_r{N}.json is written by the driver AFTER bench runs, so the
    # detail file for the in-flight round is max(recorded)+1
    recorded = [
        int(m.group(1))
        for p in glob.glob(os.path.join(bench.REPO, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    expected = f"BENCH_DETAIL_r{max(recorded, default=0) + 1:02d}.json"
    assert os.path.basename(bench._detail_path()) == expected


def test_median_is_the_warm_ratio_denominator_shape():
    assert bench._median([3.0, 1.0, 2.0]) == 2.0
    assert bench._median([4.0, 1.0, 2.0, 3.0]) == 2.5
    assert bench._median([1.2345678]) == 1.235


def test_probe_tier_names_are_benched_queries():
    """The heavy probe tier (bench detail file) may only time entries
    the bench already runs — additions-only to the harness, and the
    10× probe set must stay inside the recorded query universe."""
    import bench

    assert set(bench.PROBE_TIER) <= set(bench.HEADLINE) | set(bench.EXTRA)
    assert bench.PROBE_FACTOR >= 2


def test_emit_detail_writes_raw_timings_and_ratios(tmp_path, monkeypatch):
    """The detail file carries the per-pass timings, their totals,
    host_ref, the warm median and the warm ratios, and no verdict."""
    path = tmp_path / "detail.json"
    monkeypatch.setattr(bench, "_detail_path", lambda: str(path))
    cold = {"q_a": 2.0, "q_b": 4.0, "q_c": 9.0, "datagen_2m_rows_mor": 30.0}
    warm = {"q_a": 1.0, "q_b": 2.0, "q_c": 8.0, "datagen_2m_rows_mor": 20.0}
    extra_passes = [{"q_x": 3.0}, {"q_x": 1.0}]
    probe = {"factor": 10, "queries": {"q_a": {"cold": 5.0, "warm": 4.0}}}
    bench._emit_detail(
        cold, warm, {"q_x": 1.0}, extra_passes, [0.3, 0.4], 0.1, None, probe, 4
    )
    detail = json.loads(path.read_text())
    assert set(detail) == {"extra_queries", "passes", "sf", "cpus", "probe_tier"}
    assert detail["extra_queries"] == {"q_x": 1.0}
    assert (detail["sf"], detail["cpus"]) == (0.1, 4)
    assert detail["probe_tier"] == probe
    passes = detail["passes"]
    assert set(passes) == {
        "cold", "warm", "cold_total", "warm_total", "extra_cold",
        "extra_warm", "host_ref_sec", "warm_median_sec", "warm_ratio",
        "extra_warm_ratio",
    }
    assert passes["cold"] == cold and passes["warm"] == warm
    assert (passes["cold_total"], passes["warm_total"]) == (45.0, 31.0)
    assert passes["extra_cold"] == {"q_x": 3.0}
    assert passes["extra_warm"] == {"q_x": 1.0}
    assert passes["host_ref_sec"] == [0.3, 0.4]
    # the median leaves the disk-bound datagen entry out
    assert passes["warm_median_sec"] == 2.0
    assert passes["warm_ratio"] == {
        "q_a": 0.5, "q_b": 1.0, "q_c": 4.0, "datagen_2m_rows_mor": 10.0
    }
    assert passes["extra_warm_ratio"] == {"q_x": 0.5}
    # a failed probe tier leaves its block out
    bench._emit_detail(cold, warm, {}, extra_passes, [0.3], 0.1, 2.0)
    assert "probe_tier" not in json.loads(path.read_text())
