"""Benchmark harness: the last stdout line is the JSON record compared
against BASELINE.md.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Each query is forced through the noop sink (full computation, no
collect to the Spark driver), which measures executor-side work.
Per-pass timings, extras, warm ratios, ``host_ref_sec`` and the probe
tier go to a detail file (``_detail_path``).  The script reports
timings; it does not judge them.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# the scale-factor directory read when SPARK_GRAFT_SF_DIR is unset
DEFAULT_SF_DIR = "/root/testdata/sf0.1"

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q_window_topk_per_group",
    "q_rollup",
    "q_asof_join",
    "q_word_freq",
    "q_dedup_exact",
    "q_jaccard_pairs",
    "q_minhash_lsh",
    "q_simhash",
    "q_ann_bruteforce",
    "q_ann_ivf",
    "q_embedding_neardup",
    "q_tfidf_top_terms",
    "q_stream_tumbling",
]

# measured alongside but excluded from the headline total (fixed set above
# keeps `value` comparable across rounds); one entry per round-2 family
EXTRA = [
    "q_sessionize",
    "q_gap_fill",
    "q_ngram_jaccard_pairs",
    "q_repetition_score",
    "q_pack_sequences",
    "q_source_diversity",
    "q_mor_merge",
    "q_bm25",
    "q_temperature_sample",
    "q_dedup_survivors",
    "q_doc_chunking",
    "q_token_rarity",
    "q_knn_classify",
    "q_event_pagerank",
    "q_column_profile",
    "q_mor_partition_evolution",
    "q_ann_lsh",
    "q_bucketed_join",
    "q_bpe_train",
    "q_quality_filter_funnel",
    "q_curriculum_order",
    "q_stream_foreach_batch",
    "q_mor_branch_ff",
    "q_mor_compaction_plan",
    "q_referential_integrity",
    "q_skew_salted_join",
    "q_event_latest_state",
    "q_top_p_per_source",
    "q_embedding_quantize",
    "q_multimodal_shard_manifest",
    "q_ann_recall",
    "q_dedup_incremental",
    "q_ols_per_source",
    "q_benford_digits",
    "q_value_outliers_mad",
    "q_lag_features",
    "q_token_budget_epochs",
    "q_group_concat_topk",
    "q_revenue_mom_change",
    "q_observed_ingest",
    # round-4 additions
    "q_pii_redact",
    "q_simpson_diversity",
    "q_source_divergence",
    "q_zipf_check",
    "q_ann_ivfpq",
    "q_multimodal_codec_roundtrip",
    "q_semdedup",
]


# Heavy probe tier: at sf0.1 per-query warm times are dominated by fixed
# per-query overhead at any core count, so they cannot show parallel
# speedup.  After the main passes the bench also times these CPU-heavy
# entries on the 10× key-shifted corpus (scripts/scale_probe.py's
# builder, cached in /tmp across invocations) and records them in the
# detail file only.  Two runs at different core counts give the scaling
# ratio from their probe_tier blocks.
PROBE_TIER = [
    "q1_pricing_summary",
    "q_simhash",
    "q_minhash_lsh",
    "q_bpe_train",
    "q_bm25",
]
PROBE_FACTOR = 10


def _probe_tier(spark, sf_dir: str) -> dict:
    """Time PROBE_TIER at PROBE_FACTOR× through the noop sink; returns
    the detail-file block.  Runs AFTER every timed pass (nothing here
    can touch the headline numbers) under main()'s broad guard."""
    import time

    from scripts.scale_probe import build

    dest = f"/tmp/spark_graft_sfx{PROBE_FACTOR}"
    t0 = time.perf_counter()
    build(spark, src=sf_dir, dest=dest, factor=PROBE_FACTOR)
    build_sec = round(time.perf_counter() - t0, 3)
    from iceberg_data_gen_spark import operators

    out: dict[str, dict[str, float]] = {}
    for name in PROBE_TIER:
        ts = []
        for _ in range(2):  # pass 1 cold (incl. cache build), pass 2 warm
            t0 = time.perf_counter()
            operators.QUERIES[name](spark, dest).write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(round(time.perf_counter() - t0, 3))
        out[name] = {"cold": ts[0], "warm": ts[1]}
    return {
        "factor": PROBE_FACTOR,
        "corpus": dest,
        "build_sec": build_sec,
        "cpus": spark.sparkContext.defaultParallelism,
        "queries": out,
    }


def bench_datagen(spark) -> float:
    """Generation throughput at 2M rows (the reference's own workload,
    scaled): 4×500k data rows + 2×100k position deletes + 2×100k equality
    deletes through the full prepare pipeline incl. MoR verification."""
    import tempfile

    from iceberg_data_gen_spark.datagen.app import IcebergDataGeneratorApp
    from iceberg_data_gen_spark.datagen.config import (
        CatalogConfig,
        Config,
        FileConfig,
    )

    import shutil

    wh = tempfile.mkdtemp(prefix="bench-datagen-")
    cfg = Config(
        catalog=CatalogConfig(warehouse=wh),
        data_files=FileConfig(rows_per_file=500_000, file_count=4),
        pos_delete_files=FileConfig(rows_per_file=100_000, file_count=2),
        equality_delete_files=FileConfig(rows_per_file=100_000, file_count=2),
    )
    t0 = time.perf_counter()
    summary = IcebergDataGeneratorApp(spark, cfg).prepare()
    elapsed = round(time.perf_counter() - t0, 3)
    # derived-only: the measured count is a full MoR scan (two anti-joins)
    # that a summary must not cost at scale; tests assert measured==derived
    assert summary["derived_total"] == 1_600_000, summary
    shutil.rmtree(wh, ignore_errors=True)
    return elapsed


def warm_session(app_name: str, sf_dir: str):
    """The tuned session every timing script measures in, warmed up.

    Scratch space (spark shuffle dirs, MoR table sinks, stream
    checkpoints — all created via tempfile) moves to tmpfs for this
    process only: host-disk latency varies widely (the same bench has
    measured 25s and 133s on identical code), and the timings compare
    query plans, not disks.  Three warm-ups then pay one-time startup
    costs before anything is timed: a JVM query (codegen and scan), a
    tiny mapInPandas (Python worker pool and Arrow serializer — workers
    are reused after) and a streaming query at the smallest SF
    (state store and sink).  One cache clear drops the warm-up's
    leftovers; after it, session caches PERSIST across queries, so the
    first pass pays artifact builds (quantizers, minhash signatures,
    the normalized corpus, the brute-force ground truth) and later
    passes probe them — the train-once-probe-many posture those
    operators are built for.  Per-call cache leaks are handled at the
    source: unpersist in the audits and the artifact cache (README
    "Artifact cache"), which unpersists what it drops."""
    import tempfile

    if os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-bench-tmp"
        os.makedirs(shm, exist_ok=True)
        os.environ["TMPDIR"] = shm
        tempfile.tempdir = None  # reset gettempdir() cache

    from iceberg_data_gen_spark import operators
    from iceberg_data_gen_spark.session import get_spark

    operators.load_all()
    spark = get_spark(
        app_name,
        extra_conf={"spark.local.dir": os.environ.get("TMPDIR", "/tmp")},
    )
    spark.sparkContext.setLogLevel("ERROR")

    operators.QUERIES["q6_forecast_revenue"](spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()

    def _noop_batches(batches):
        yield from batches

    spark.range(32).mapInPandas(_noop_batches, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    operators.QUERIES["q_stream_tumbling"](spark, "/root/testdata/sf0.001").count()
    spark.catalog.clearCache()
    return spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    # basename may be any name — only 'sf<number>' encodes a scale factor;
    # anything else ('full', 'sf.', 'sf1.2.3') falls back to 0.1 instead
    # of raising before the first query
    m = re.search(r"sf(\d+(?:\.\d+)?)$", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m.group(1)) if m else 0.1

    from iceberg_data_gen_spark import operators

    spark = warm_session("bench", sf_dir)

    def run_once(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # TWO INTERLEAVED full passes, min per query.  This host stalls in
    # multi-minute bursts (the same bench has measured 25s and 133s on
    # identical code, with one contiguous window of queries 10-20x slow);
    # back-to-back repeats land both samples inside one burst, while
    # pass-separated samples are minutes apart — at most one is hit.
    # Per-pass timings are recorded separately in the detail file.
    def host_ref() -> float:
        """Fixed-work single-core reference (sha256 over 192 MB of
        zeros): a pure-CPU constant that prices this host's speed into
        the record.  Query times up AND host_ref up by the same factor
        ⇒ environment; query times up with host_ref flat ⇒ code, or a
        scheduler/IO-side stall."""
        import hashlib

        blk = bytes(8 << 20)
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(24):
            h.update(blk)
        return round(time.perf_counter() - t0, 3)

    passes: list[dict[str, float]] = [{}, {}]
    extra_passes: list[dict[str, float]] = [{}, {}]
    host_refs: list[float] = []
    for i in range(2):
        host_refs.append(host_ref())
        for name in HEADLINE:
            passes[i][name] = round(run_once(operators.QUERIES[name]), 3)
        passes[i]["datagen_2m_rows_mor"] = round(bench_datagen(spark), 3)
        # timed but reported OUTSIDE the headline total, so `value`
        # stays comparable across runs that add extras
        for name in EXTRA:
            extra_passes[i][name] = round(run_once(operators.QUERIES[name]), 3)
    cold, warm = passes
    # `queries` is min-of-passes: the steady-state number per entry
    timings = {n: min(cold[n], warm[n]) for n in cold}
    extra = {n: min(extra_passes[0][n], extra_passes[1][n]) for n in extra_passes[0]}

    total = round(sum(timings.values()), 3)

    # Only a 2,000-char tail of stdout is kept, so the detail goes to a
    # side file plus one EARLIER stdout line, and the LAST printed line
    # is the compact record (see MAX_FINAL_LINE).  Nothing from here to
    # the final print may kill the process: warm_median, the probe tier
    # and the detail file each sit under their own broad guard.
    # warm_median rides in the final record so the recorded series can
    # be host-normalized on its own.
    try:
        warm_med = _query_warm_median(warm)
    except Exception:  # noqa: BLE001 — headline must survive
        warm_med = None

    # heavy probe tier LAST among measurements: it runs on its own 10×
    # corpus after every timed pass, so it cannot perturb the numbers
    # above; its own guard keeps a probe-side failure (corpus build, OOM
    # at 10×) from costing the headline record.
    probe = None
    try:
        probe = _probe_tier(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001 — headline must survive
        print(f"probe_tier: failed ({exc})")

    try:
        _emit_detail(
            cold,
            warm,
            extra,
            extra_passes,
            host_refs,
            sf,
            warm_med,
            probe,
            spark.sparkContext.defaultParallelism,
        )
    except Exception as exc:  # noqa: BLE001 — headline must survive
        print(f"detail: failed ({exc})")

    print(
        render_final_line(
            final_record(
                "headline-query wall time (noop sink, tuned session)",
                total,
                timings,
                sf,
                warm_med,
            )
        )
    )


def _query_warm_median(warm: dict) -> float:
    """QUERY-ONLY warm median, the warm-ratio denominator:
    datagen_2m_rows_mor is the one disk-bound pipeline entry and its
    position relative to the query median moves run-to-run, so it is
    left out.  The floor guards a smoke corpus whose warm times all
    round to 0.000."""
    return max(
        _median([t for n, t in warm.items() if n != "datagen_2m_rows_mor"]),
        0.001,
    )


def _emit_detail(
    cold,
    warm,
    extra,
    extra_passes,
    host_refs,
    sf,
    warm_med,
    probe=None,
    parallelism=32,
) -> None:
    """Build + write BENCH_DETAIL_r{N}.json and print its one stdout
    line.  Called under main()'s broad guard: nothing here may prevent
    the compact final line from printing."""
    if warm_med is None:
        warm_med = _query_warm_median(warm)
    detail = {
        "extra_queries": extra,
        "passes": {
            "cold": cold,
            "warm": warm,
            "cold_total": round(sum(cold.values()), 3),
            "warm_total": round(sum(warm.values()), 3),
            "extra_cold": extra_passes[0],
            "extra_warm": extra_passes[1],
            # fixed-work CPU constant per pass (see host_ref): divides
            # CPU-frequency slowdown out of run-to-run comparisons
            "host_ref_sec": host_refs,
            # per-query warm time over the same run's query-only warm
            # median: numerator and denominator ride the same host
            # window.  Extras share the headline median as denominator.
            "warm_median_sec": warm_med,
            "warm_ratio": {
                n: round(t / warm_med, 3) for n, t in warm.items()
            },
            "extra_warm_ratio": {
                n: round(t / warm_med, 3) for n, t in extra_passes[1].items()
            },
        },
        "sf": sf,
        "cpus": parallelism,
    }
    if probe is not None:
        detail["probe_tier"] = probe
    detail_path = _detail_path()
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(f"detail: {os.path.relpath(detail_path, REPO)}")


# only a 2,000-char tail of stdout is recorded and its last line parsed;
# a longer line clips mid-JSON and the record is lost.  1,800 leaves
# slack for the recorder's own framing.
MAX_FINAL_LINE = 1800


def _median(xs: list[float]) -> float:
    import statistics

    return round(statistics.median(xs), 3)


def _detail_path() -> str:
    """Side file keyed one past the highest recorded BENCH_r{N}.json,
    which is written after bench runs (a fresh checkout writes r01)."""
    import glob

    rounds = [0]
    for p in glob.glob(os.path.join(REPO, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            rounds.append(int(m.group(1)))
    return os.path.join(REPO, f"BENCH_DETAIL_r{max(rounds) + 1:02d}.json")


def final_record(
    metric: str,
    total: float,
    timings: dict,
    sf: float,
    warm_median: float | None = None,
) -> dict:
    """The compact record parsed from the LAST stdout line, plus one
    float (``warm_median``) so the recorded series is host-normalizable
    from the record alone.  It must stay under MAX_FINAL_LINE (pinned
    by tests/test_bench_contract.py)."""
    record = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if warm_median is not None:
        record["warm_median"] = warm_median
    return record


def render_final_line(record: dict) -> str:
    line = json.dumps(record)
    if len(line) >= MAX_FINAL_LINE:
        # defense in depth: a clipped line loses the whole record, so
        # if a future field/entry ever grows it past the budget, drop
        # the per-query map rather than lose `value` — the detail file
        # still has everything
        slim = {k: v for k, v in record.items() if k != "queries"}
        line = json.dumps(slim)
    return line


if __name__ == "__main__":
    main()
