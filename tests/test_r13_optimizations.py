"""Focused locks for the round-13 optimization internals.

These pin the MECHANISMS the r13 speedups rely on (adaptive spread,
table-handle memoization, the survivors label core), separate from the
oracle tests that prove the query RESULTS unchanged."""

from __future__ import annotations

from pyspark.sql import functions as F

from iceberg_data_gen_spark import operators
from iceberg_data_gen_spark.operators.common import spread_scan
from iceberg_data_gen_spark.session import load_table

operators.load_all()

from tests.conftest import SF_DIR


def test_spread_scan_repartitions_degenerate_scan(spark):
    """The testdata tables ship as ONE parquet row group (one scan
    task); spread_scan must lift them to defaultParallelism via a hash
    repartition on the given key — rows unchanged."""
    df = load_table(spark, SF_DIR, "documents")
    assert df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = spread_scan(df, SF_DIR, "documents", "doc_id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == df.count()
    # hash repartition, not keyless round-robin: keyless repartition(n)
    # pays a per-task local sort (sortBeforeRepartition) and is
    # non-deterministic under retries — the guide §2.5 hazard
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(doc_id" in plan, plan


def test_spread_scan_noop_on_already_parallel_input(spark, monkeypatch):
    """At production scale the scan yields >= one split per core and
    spread_scan must be a NO-OP (no extra exchange survives to 100 TB).
    Simulated by a pre-spread DataFrame: the probe sees the parallel
    partitioning and returns the input plan unchanged."""
    from iceberg_data_gen_spark.operators import common

    par = spark.sparkContext.defaultParallelism
    df = load_table(spark, SF_DIR, "documents").repartition(par, "doc_id")
    # healthy-layout probe result
    monkeypatch.setattr(common, "scan_parallelism", lambda *a: par)
    out = spread_scan(df, SF_DIR, "documents", "doc_id")
    assert out is df  # identical plan object — zero added nodes


def test_table_handle_memo_returns_same_plan_not_same_data(spark):
    """load_table memoizes the DataFrame HANDLE per (session, path,
    table) — plan reuse, not result caching: the handle is the same
    object, nothing is persisted in the cache manager, and every
    execution still scans parquet (a noop write after the memo hit
    reads the current files)."""
    a = load_table(spark, SF_DIR, "orders")
    b = load_table(spark, SF_DIR, "orders")
    assert a is b
    # nothing cached in storage: the memo must not touch the CacheManager
    assert not a.storageLevel.useMemory and not a.storageLevel.useDisk


def test_table_handle_memo_excludes_nanos_events(spark, tmp_path):
    """In the INT64-nanos layout the events loader conditions a session
    conf (nanosAsLong) that streaming runners restore per call — its
    plan must be rebuilt per invocation, never memoized.  (The micros
    layout conditions nothing and is an artifact: tests/test_artifacts.py.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key)
    t0 = 1_700_000_000_000_000_000  # ns since epoch
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([t0, t0 + 60_000_000_000], pa.timestamp("ns")),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": pa.array(["click"] * 2),
            "value": pa.array([1.5, 2.25], pa.float64()),
            "props": pa.array(["{}"] * 2),
        }
    )
    # version 2.6 + no coercion => physical INT64 TIMESTAMP(NANOS)
    pq.write_table(
        table, str(tmp_path / "events.parquet"), coerce_timestamps=None, version="2.6"
    )
    try:
        a = load_table(spark, str(tmp_path), "events")
        b = load_table(spark, str(tmp_path), "events")
        assert a is not b
        assert dict(b.dtypes)["ts"] == "timestamp"
        assert b.count() == 2
    finally:
        spark.conf.set(key, prior)


def test_dup_labels_matches_clusters_labels(spark):
    """q_dedup_survivors now consumes the shared _dup_labels core
    directly (skipping the cluster-size groupBy+join it never used);
    the label set must stay EXACTLY the (doc_id, cluster_rep) projection
    of q_dedup_clusters — if these diverge the survivor set silently
    drifts from the clustering the oracle proves."""
    from iceberg_data_gen_spark.operators.dedup import _dup_labels

    labels = {
        (r["doc_id"], r["cluster_rep"])
        for r in _dup_labels(spark, SF_DIR).collect()
    }
    clusters = {
        (r["doc_id"], r["cluster_rep"])
        for r in operators.QUERIES["q_dedup_clusters"](spark, SF_DIR)
        .select("doc_id", "cluster_rep")
        .collect()
        # clusters joins isolated docs back in (own rep); the label core
        # holds dup-graph nodes only — restrict to non-trivial entries
        # plus reps that head a real cluster
        if r["doc_id"] != r["cluster_rep"]
    }
    non_trivial_labels = {(d, c) for d, c in labels if d != c}
    assert clusters == non_trivial_labels
