"""Pins the bench stdout contract (VERDICT r11 #1).

The round driver captures only a 2,000-char tail of bench.py's stdout and
parses the LAST line as the round's official perf record.  Round 11's
`passes` block grew that line to 5,722 bytes, the tail clipped it
mid-JSON, and `BENCH_r11.json` recorded `parsed: null` — the round lost
its headline number.  bench.py now prints a compact r10-shaped final
line ({metric, value, unit, queries, sf}) and routes the detail (per-pass
timings, extras, host_ref, warm ratios) to a round-keyed side file; these
tests pin the final line under the budget so a future field addition
cannot silently re-break the record.
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


def test_cold_budgets_cover_exactly_the_warm_budget_entries():
    """ADVICE r12: `both_passes` adjudicates the COLD ratio, and cold
    passes systematically carry first-pass (cache/trainer) overhead —
    so every budgeted entry needs its own cold pin, and an entry with
    only one of the two tables is a half-adjudicated breach."""
    assert set(bench.COLD_RATIO_BUDGETS) == set(bench.WARM_RATIO_BUDGETS)


def _clean_window_ratio_medians() -> dict[str, float]:
    """Per-entry median warm ratio across the recorded BENCH_DETAIL
    files from CLEAN windows (empty ratio_breaches — the breach report
    self-labels degraded hosts, and the coverage ratchet must not learn
    ratios from a stall).  Falls back to all files if none are clean."""
    import statistics

    files = sorted(glob.glob(os.path.join(bench.REPO, "BENCH_DETAIL_r*.json")))
    ratios: dict[str, list[float]] = {}
    clean, dirty = [], []
    for p in files:
        try:
            with open(p) as f:
                passes = json.load(f)["passes"]
        except (OSError, ValueError, KeyError):
            continue
        (clean if not passes.get("ratio_breaches") else dirty).append(passes)
    for passes in clean or dirty:
        for src in ("warm_ratio", "extra_warm_ratio"):
            for n, r in passes.get(src, {}).items():
                ratios.setdefault(n, []).append(r)
    return {n: statistics.median(v) for n, v in ratios.items()}


def test_every_heavy_live_entry_is_budgeted():
    """The CONVERSE of test_ratio_budgets_cover_live_bench_entries
    (VERDICT r12 #1): budgeted⇒live was asserted, but live-and-heavy⇒
    budgeted was not — so the suite's two most expensive queries
    (q_column_profile 3.49, q_dedup_survivors 3.40) could not raise a
    breach at all.  Any live entry whose recorded clean-window ratio
    median exceeds 1.3 must carry a pinned budget."""
    live = set(bench.HEADLINE) | set(bench.EXTRA)
    heavy = {
        n: r
        for n, r in _clean_window_ratio_medians().items()
        if n in live and n != "datagen_2m_rows_mor" and r > 1.3
    }
    unbudgeted = {
        n: r for n, r in heavy.items() if n not in bench.WARM_RATIO_BUDGETS
    }
    assert not unbudgeted, (
        f"heavy entries with no pinned warm-ratio budget: {unbudgeted} — "
        "pin max-of-clean-runs + ~30% in bench.WARM_RATIO_BUDGETS and "
        "mirror COLD_RATIO_BUDGETS + the README table"
    )


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


def test_ratio_budgets_cover_live_bench_entries():
    # a renamed/removed query must not leave a budget silently detached
    live = set(bench.HEADLINE) | set(bench.EXTRA) | {"datagen_2m_rows_mor"}
    dead = set(bench.WARM_RATIO_BUDGETS) - live
    assert not dead, f"budgeted entries not benched: {sorted(dead)}"


def test_readme_budget_table_matches_bench_budgets():
    """The README ratio-budget table and bench.WARM_RATIO_BUDGETS must
    agree — the README is the decision rule the judge reads, bench.py is
    the one that executes (same one-source-of-truth pattern as the
    NULL-program counts)."""
    import re
    from pathlib import Path

    text = (Path(bench.REPO) / "README.md").read_text()
    rows = re.findall(r"\| `(q[\w]+)` \| [\d.]+ \| ≤([\d.]+) \|", text)
    table = {name: float(b) for name, b in rows}
    assert table == bench.WARM_RATIO_BUDGETS, (
        sorted(set(table) ^ set(bench.WARM_RATIO_BUDGETS)),
        {k: (table.get(k), bench.WARM_RATIO_BUDGETS.get(k)) for k in table
         if table.get(k) != bench.WARM_RATIO_BUDGETS.get(k)},
    )
    # the cold table rows render the pin as ≤cN.N — the 'c' keeps the
    # warm regex above from swallowing them
    cold_rows = re.findall(r"\| `(q[\w]+)` \| [\d.]+ \| ≤c([\d.]+) \|", text)
    cold_table = {name: float(b) for name, b in cold_rows}
    assert cold_table == bench.COLD_RATIO_BUDGETS, (
        sorted(set(cold_table) ^ set(bench.COLD_RATIO_BUDGETS)),
        {k: (cold_table.get(k), bench.COLD_RATIO_BUDGETS.get(k))
         for k in cold_table
         if cold_table.get(k) != bench.COLD_RATIO_BUDGETS.get(k)},
    )


def test_probe_tier_names_are_benched_queries():
    """The heavy probe tier (bench detail file) may only time entries
    the bench already runs — additions-only to the harness, and the
    10× probe set must stay inside the recorded query universe."""
    import bench

    assert set(bench.PROBE_TIER) <= set(bench.HEADLINE) | set(bench.EXTRA)
    assert bench.PROBE_FACTOR >= 2


def test_datagen_hostref_budget_shape():
    """datagen_2m_rows_mor's host_ref-normalized pins: cold carries
    first-pass overhead so its pin must not be tighter than warm's."""
    import bench

    b = bench.DATAGEN_HOSTREF_BUDGET
    assert set(b) == {"warm", "cold"}
    assert b["cold"] >= b["warm"] > 0
