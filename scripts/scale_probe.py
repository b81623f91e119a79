"""Scale probe: does each headline plan scale ~linearly a decade up?

Builds a synthetic corpus at FACTOR× the source SF by unioning FACTOR
key-shifted copies of every table (foreign keys shifted consistently, so
join fan-outs stay realistic; document text gets a per-copy marker token
so copies are near- but not exact duplicates), then times a probe set at
1× and FACTOR× and prints the per-query scaling ratio.

A plan that is linear in the input should show ratio ≈ FACTOR (minus
fixed overheads); a super-linear ratio flags a plan that would not
survive the next decade of scale.  The blocked-quadratic pair ops
(q_jaccard_pairs / q_ngram_jaccard_pairs) are deliberately NOT probed —
their documented scale path IS the LSH variant, which is.

Run: python scripts/scale_probe.py            (factor 10, sf0.1 source)
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_SCALE_FACTOR, SPARK_GRAFT_CPUS
Output: one JSON line {query: {"t1": s, "tN": s, "ratio": r}, ...}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FACTOR = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "16")
DEST = f"/tmp/spark_graft_sfx{FACTOR}"
KEY_SHIFT = 100_000_000  # far above any real key at any test SF

# table -> integer key columns shifted by copy_index * KEY_SHIFT
SHIFT_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMENSION_TABLES = ("region", "nation")  # copied once, never multiplied

PROBE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q_rollup",
    "q_window_topk_per_group",
    "q_dedup_exact",
    "q_minhash_lsh",
    "q_simhash",
    "q_word_freq",
    "q_tfidf_top_terms",
    "q_ann_bruteforce",
    "q_ann_ivf",
    "q_sessionize",
    "q_token_rarity",
    "q_pii_redact",
    "q_simpson_diversity",
    "q_source_divergence",
    "q_dedup_incremental",
    "q_bm25",
    "q_pack_sequences",
    "q_stream_tumbling",
    "q_zipf_check",
    "q_ann_ivfpq",
    "q_multimodal_codec_roundtrip",
    "q_semdedup",
    "q_pii_scan",
    "q_event_pagerank",
    # r9: the previously unprobed pipeline/analytics plans whose scale
    # posture is non-obvious — cooccurrence (pair volume quadratic in
    # per-doc DISTINCT vocab), curriculum (range-repartition global rank
    # with driver-side offsets), ewma (grouped-map sequential kernel),
    # retention (co-partitioned self-aggregate join), and the codec
    # audit (HOF analytic twin + decode join)
    "q_cooccurrence",
    "q_curriculum_order",
    "q_ewma",
    "q_retention",
    "q_multimodal_codec_audit",
    # r9 second pass: the marquee join operators the sweep never timed —
    # as-of (range-partitioned backward match) and the bucketed SMJ
    # whose cost IS the two amortizable bucketBy writes.  q_mor_merge is
    # deliberately absent: it builds a FIXED-SIZE fixture table
    # regardless of sf_dir (measured ratio 0.95 — the probe corpus never
    # reaches it), so probing it would report a meaningless flat line.
    "q_asof_join",
    "q_bucketed_join",
    # r11: the cogroup API seam — cost is ONE Python invocation per key
    # (VERDICT r10 #6: measure the per-key-invocation curve instead of
    # carrying the item; the relational twin in its oracle is the
    # production plan, this probe prices the seam itself)
    "q_cogroup",
    # r11 (VERDICT r10 #5): the most expensive extra in the bench — the
    # single-scan multi-distinct Expand plan whose documented 100 TB
    # swap is approx_count_distinct; probed at 10× AND 100× to pin the
    # swap point with measured numbers
    "q_column_profile",
    # r13: the FK-integrity report's plan changed (one pass per child
    # table instead of one per FK edge) — probe that the fused
    # multi-join single-scan shape stays linear a decade up
    "q_referential_integrity",
]

# State-heavy streams probed OPERATOR-ONLY (foreachBatch -> noop sink):
# the registered queries run Complete-mode into the harness MemorySink,
# which re-collects the full result to the driver each micro-batch — at
# 100x events that artifact dominated the ratio (r6: 4.06x/4.69x were
# sink numbers, not state-store numbers).  STREAM_OPERATOR_PROBES drives
# the identical aggregations into a distributed discard sink.
STREAM_PROBE = ["q_stream_session", "q_stream_stateful", "q_stream_stateful_ttl"]

# (label, query, module, threshold) probes that force a scale-path
# branch: the module's size threshold is set to 0 for the timing and
# restored after.  These are the branches whose whole POINT is the
# large-corpus ratio — the default branch at probe scale would measure
# the small-corpus path instead.
FORCED_PROBE = [
    # LSH candidates -> exact-confirm -> union-find: the survivors chain
    # must track the LSH ratio, not the blocked-quadratic one
    ("q_dedup_survivors[lsh]", "q_dedup_survivors", "dedup", "DEDUP_LSH_MIN_DOCS"),
    # two-level (inverted multi-index) coarse quantizer: bounded assign
    # cost past the flat-k cap
    ("q_ann_ivf[2level]", "q_ann_ivf", "similarity", "_TWO_LEVEL_MIN_N"),
    ("q_semdedup[2level]", "q_semdedup", "similarity", "_TWO_LEVEL_MIN_N"),
]


def build(spark, src: str = None, dest: str = None, factor: int = None) -> str:
    """Build (or reuse) the key-shifted synthetic corpus at ``factor``×
    ``src`` under ``dest``; returns ``dest``.  Parameterized in r14 so
    bench.py's heavy probe tier can share the one corpus builder
    (defaults preserve this script's env-driven behavior)."""
    from pyspark.sql import functions as F

    from iceberg_data_gen_spark.session import load_table

    src = src or SRC
    dest = dest or DEST
    factor = factor or FACTOR
    # _SUCCESS records (src, factor, source mtimes): a crash mid-build
    # leaves no marker, and a changed source/factor — INCLUDING the
    # driver regenerating the same-path testdata between rounds (review
    # r9: a path-only stamp silently compared t1 on fresh data against
    # tN on the previous round's 10× corpus) — invalidates the cache, so
    # the corpus is rebuilt instead of silently probing stale data
    marker = os.path.join(dest, "_SUCCESS")
    src_mtimes = ",".join(
        f"{t}:{int(os.path.getmtime(os.path.join(src, f'{t}.parquet')))}"
        for t in sorted((*SHIFT_COLS, *DIMENSION_TABLES))
        if os.path.exists(os.path.join(src, f"{t}.parquet"))
    )
    stamp = f"{src}|{factor}|{src_mtimes}"
    if (
        os.path.isfile(marker)
        and Path(marker).read_text() == stamp
        and not os.environ.get("SPARK_GRAFT_SCALE_REBUILD")
    ):
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    for name in DIMENSION_TABLES:
        spath = os.path.join(src, f"{name}.parquet")
        if os.path.isdir(spath):
            # Spark-written dataset: a directory of part files (the same
            # layout events.py sniffs); shutil.copy would raise on it
            shutil.copytree(spath, os.path.join(dest, f"{name}.parquet"))
        elif os.path.exists(spath):
            shutil.copy(spath, os.path.join(dest, f"{name}.parquet"))
    for name, keys in SHIFT_COLS.items():
        if not os.path.exists(os.path.join(src, f"{name}.parquet")):
            continue
        base = load_table(spark, src, name)
        copies = []
        for i in range(factor):
            df = base
            for k in keys:
                df = df.withColumn(k, F.col(k) + F.lit(i * KEY_SHIFT))
            if name == "documents":
                # break exact duplication; copies stay near-duplicates
                df = df.withColumn("text", F.concat("text", F.lit(f" cp{i}")))
            copies.append(df)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(os.path.join(dest, f"{name}.parquet"))
    # write the SAME `stamp` the guard above checks — a re-typed literal
    # here would silently invalidate the cache forever (review r8)
    Path(marker).write_text(stamp)
    return dest


def main() -> None:
    # validate the argv name filter BEFORE paying for the session + corpus
    # build (ADVICE r9): a misspelled label (q_ewma_ for q_ewma, or a
    # forgotten [operator]/[lsh] suffix) used to silently produce an empty
    # probe report that read as "nothing to probe".  stream_labels is the
    # ONE definition of the '[operator]' suffix scheme — the probe loop
    # below consumes the same dict, so the validation set cannot drift
    # from the labels the loops actually run (review r10).
    stream_labels = {n: f"{n}[operator]" for n in STREAM_PROBE}
    known = (
        set(PROBE)
        | set(stream_labels.values())
        | {label for label, *_ in FORCED_PROBE}
    )
    unknown = set(sys.argv[1:]) - known
    if unknown:
        sys.exit(
            f"unknown probe name(s): {sorted(unknown)}\n"
            f"known labels: {sorted(known)}"
        )

    # the TUNED session the bench uses — probe ratios must be measured
    # under the same broadcast/AQE/timezone settings as every other
    # recorded number
    from iceberg_data_gen_spark.session import get_spark

    spark = get_spark(
        "scale-probe",
        master=f"local[{CPUS}]",
        shuffle_partitions=32,
        # 16g driver: the remaining Complete-mode stream probe
        # (q_stream_tumbling, small windowed result) plus the batch
        # fan-out; the state-heavy streams moved to the operator-only
        # foreachBatch->noop path (STREAM_PROBE) so the old multi-GiB
        # MemorySink pressure is gone — headroom kept for the 100x runs
        extra_conf={
            "spark.driver.memory": "16g",
            "spark.driver.maxResultSize": "8g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    from iceberg_data_gen_spark import operators

    operators.load_all()
    build(spark)

    def run(name: str, sf_dir: str) -> float:
        t0 = time.time()
        operators.QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.time() - t0

    def probe_one(name: str, runner=run) -> dict:
        runner(name, SRC)  # warm both code paths once at 1x
        t1 = min(runner(name, SRC), runner(name, SRC))
        tN = min(runner(name, DEST), runner(name, DEST))
        return {
            "t1": round(t1, 3),
            f"t{FACTOR}": round(tN, 3),
            "ratio": round(tN / t1, 2) if t1 > 0 else None,
        }

    # optional argv name filter: probe just the named entries/labels
    # (new-entry iteration without re-timing the whole 35-entry sweep)
    only = set(sys.argv[1:])

    def wanted(label: str) -> bool:
        return not only or label in only

    report = {}
    for name in PROBE:
        if not wanted(name):
            continue
        report[name] = probe_one(name)
        print(name, report[name], file=sys.stderr, flush=True)

    from iceberg_data_gen_spark.streaming.events import STREAM_OPERATOR_PROBES

    def run_stream(name: str, sf_dir: str) -> float:
        t0 = time.time()
        STREAM_OPERATOR_PROBES[name](spark, sf_dir)
        return time.time() - t0

    for name in STREAM_PROBE:
        label = stream_labels[name]
        if not wanted(label):
            continue
        report[label] = probe_one(name, runner=run_stream)
        print(label, report[label], file=sys.stderr, flush=True)
    import importlib

    for label, name, module, threshold in FORCED_PROBE:
        if not wanted(label):
            continue
        mod = importlib.import_module(f"iceberg_data_gen_spark.operators.{module}")
        saved = getattr(mod, threshold)
        setattr(mod, threshold, 0)
        try:
            report[label] = probe_one(name)
        finally:
            setattr(mod, threshold, saved)
        print(label, report[label], file=sys.stderr, flush=True)
    print(json.dumps({"factor": FACTOR, "src": SRC, "probe": report}))


if __name__ == "__main__":
    main()
