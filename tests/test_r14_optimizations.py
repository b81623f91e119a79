"""Focused locks for the round-14 optimization internals.

These pin the MECHANISMS the r14 speedups rely on (the dedup-label and
LSH-candidate session memos, the widened spread_scan trigger, the
adaptive bucket count), separate from the oracle tests that prove the
query RESULTS unchanged."""

from __future__ import annotations

from pyspark.sql import functions as F

from iceberg_data_gen_spark import operators
from iceberg_data_gen_spark.session import load_table

operators.load_all()

from tests.conftest import SF_DIR


def test_dup_labels_memoized_per_session_and_branch(spark, monkeypatch):
    """_dup_labels is the dedup family's trained artifact (r14): the
    eager edge build + union-find must run once per (session, corpus,
    branch), with clusters/survivors probing the memo.  The key MUST
    carry the branch actually taken — IDG_DEDUP_LSH flips within one
    session in the test suite and the two branches' label sets may
    legitimately differ."""
    from iceberg_data_gen_spark.operators.common import table_artifact
    from iceberg_data_gen_spark.operators.dedup import _dedup_branch, _dup_labels

    monkeypatch.delenv("IDG_DEDUP_LSH", raising=False)
    a = _dup_labels(spark, SF_DIR)
    b = _dup_labels(spark, SF_DIR)
    assert a is b  # memo hit: no second eager build
    branch = _dedup_branch(spark, SF_DIR)
    key = ("dup_labels", branch)
    assert table_artifact(spark, SF_DIR, "documents", key, _not_cached) is a
    # the exact-branch labels must never be served to the forced-LSH
    # branch (its recall<1 label set is a different artifact)
    monkeypatch.setenv("IDG_DEDUP_LSH", "1")
    assert _dedup_branch(spark, SF_DIR) == "lsh"
    assert _dup_labels(spark, SF_DIR) is not a


def _not_cached():
    raise AssertionError("artifact was not cached")


def test_lsh_candidate_core_memoized_not_result_cached(spark):
    """q_minhash_lsh's candidate-pair core (banding + window + clique/
    star + distinct) is session-cached like the signatures it derives
    from — but the QUERY's est_jaccard output must still be computed per
    invocation from the signature table (the memo holds an INTERMEDIATE
    artifact, not the declared result)."""
    from iceberg_data_gen_spark.operators.common import table_artifact

    def cached():
        key = ("lsh_candidates",)
        return table_artifact(spark, SF_DIR, "documents", key, _not_cached)

    df = operators.QUERIES["q_minhash_lsh"](spark, SF_DIR)
    cand = cached()
    assert set(cand.columns) == {"doc_a", "doc_b"}  # pairs only, no score
    assert cand.storageLevel.useMemory  # .cache()d artifact
    # the returned plan still scores: est_jaccard is not in the memo
    assert "est_jaccard" in df.columns
    # repeat invocation reuses the same candidate artifact
    operators.QUERIES["q_minhash_lsh"](spark, SF_DIR)
    assert cached() is cand


def test_documents_doc_id_non_null_corpus_contract(spark):
    """ADVICE r13: q_dedup_survivors' anti-join on the DROP set keeps
    NULL-doc_id rows (NULL never matches a join key) where the old
    semi-join on the keep set dropped them — harmless only while the
    corpus contract guarantees doc_id is non-null.  Pin the contract so
    a future nullable corpus fails loudly here instead of silently
    changing the survivor set."""
    docs = load_table(spark, SF_DIR, "documents")
    assert docs.where(F.col("doc_id").isNull()).count() == 0


def test_spread_scan_skips_marginally_under_parallel_scans(spark, monkeypatch):
    """ADVICE r13: a production scan with slightly fewer splits than
    cores (800 splits / 1000 cores) must NOT pay a full extra exchange —
    only badly under-parallel scans (< par // 2) spread."""
    from iceberg_data_gen_spark.operators import common
    from iceberg_data_gen_spark.operators.common import spread_scan

    par = spark.sparkContext.defaultParallelism
    df = load_table(spark, SF_DIR, "documents")
    # marginal: no-op
    monkeypatch.setattr(common, "scan_parallelism", lambda *a: max(par // 2, 1))
    assert spread_scan(df, SF_DIR, "documents", "doc_id") is df
    if par >= 4:  # degenerate: still spreads
        monkeypatch.setattr(common, "scan_parallelism", lambda *a: par // 2 - 1)
        out = spread_scan(df, SF_DIR, "documents", "doc_id")
        assert out is not df


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


def test_bucketed_join_bucket_count_is_the_measured_optimum(spark):
    """r14: an adaptive bucket count off defaultParallelism was tried
    and measured SLOWER at fixture scale (nb=32 1.77 s vs nb=8
    1.11-1.50 s interleaved min-of-5 — file-count overhead beats write
    parallelism at 600k rows); the pinned 8 is the measured optimum
    and the read must consume all buckets shuffle-free (the SMJ lock
    in test_plans.py pins the exchange count)."""
    df = operators.QUERIES["q_bucketed_join"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount: 8 out of 8" in plan, plan
