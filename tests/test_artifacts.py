"""The artifact cache (``iceberg_data_gen_spark.artifacts``): an entry
belongs to one session and is rebuilt when a file it was built from
changes."""

from __future__ import annotations

import shutil
from types import SimpleNamespace

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from iceberg_data_gen_spark import artifacts, operators
from iceberg_data_gen_spark.session import load_table, table_path

operators.load_all()  # registration order first, as every test module

from iceberg_data_gen_spark.operators import common, dedup, similarity  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402


def test_scan_parallelism_is_per_session(spark):
    """A session that splits files finer must not get another session's
    scan count: two sessions on one context share an applicationId."""
    common.scan_parallelism(spark, SF_DIR, "documents")
    fine = spark.newSession()
    fine.conf.set("spark.sql.files.maxPartitionBytes", "16k")
    real = load_table(fine, SF_DIR, "documents").rdd.getNumPartitions()
    assert real > 1
    assert common.scan_parallelism(fine, SF_DIR, "documents") == real


def test_scan_parallelism_follows_split_confs(spark):
    """A split conf changed in the SAME session must reach the scan
    count: the memoized count used to stay at the first value (1 on the
    65 KB sf0.01 documents file, against 4 splits at 16k)."""
    key = "spark.sql.files.maxPartitionBytes"
    before = common.scan_parallelism(spark, SF_DIR, "documents")
    prev = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        real = spark.read.parquet(table_path(SF_DIR, "documents")).rdd.getNumPartitions()
        assert real > before
        assert common.scan_parallelism(spark, SF_DIR, "documents") == real
    finally:
        spark.conf.set(key, prev)
    assert common.scan_parallelism(spark, SF_DIR, "documents") == before


def test_micros_events_handle_is_an_artifact(spark, tmp_path):
    """In the INT64-micros layout ``load_table("events")`` conditions no
    session conf, so two loads share one handle; rewriting the file
    rebuilds it."""
    path = table_path(str(tmp_path), "events")
    shutil.copy(table_path(SF_DIR, "events"), path)
    t = pq.read_table(path)
    assert t.schema.field("ts").type.unit == "us"
    a = load_table(spark, str(tmp_path), "events")
    assert load_table(spark, str(tmp_path), "events") is a
    pq.write_table(t.slice(0, t.num_rows // 2), path)
    b = load_table(spark, str(tmp_path), "events")
    assert b is not a
    assert b.count() == t.num_rows // 2
    assert dict(b.dtypes)["ts"] == "timestamp"


def test_artifacts_follow_their_source_files(spark, tmp_path):
    """Rewriting a corpus file at the same path with fewer rows must
    reach every artifact built from it: the table handle, the dedup doc
    count and the ANN vector count."""
    for name in ("documents", "embeddings"):
        shutil.copy(table_path(SF_DIR, name), table_path(str(tmp_path), name))
    d = str(tmp_path)
    n_docs = load_table(spark, d, "documents").count()
    assert dedup._doc_count(spark, d) == n_docs
    n_vecs = similarity._vector_count(spark, d)

    for name in ("documents", "embeddings"):
        path = table_path(d, name)
        t = pq.read_table(path)
        pq.write_table(t.slice(0, t.num_rows // 2), path)

    assert load_table(spark, d, "documents").count() == n_docs // 2
    assert dedup._doc_count(spark, d) == n_docs // 2
    assert similarity._vector_count(spark, d) == (
        similarity._vectors(spark, d).count()
    ) < n_vecs


def test_directory_source_counts_as_its_files(tmp_path, monkeypatch):
    monkeypatch.setattr(artifacts, "_STORE", {})
    session = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    (tmp_path / "part-0").write_text("a")
    builds = []

    def build():
        builds.append(1)
        return len(builds)

    assert artifacts.get(session, ("k",), build, [str(tmp_path)]) == 1
    assert artifacts.get(session, ("k",), build, [str(tmp_path)]) == 1
    (tmp_path / "part-1").write_text("b")
    assert artifacts.get(session, ("k",), build, [str(tmp_path)]) == 2
    (tmp_path / "part-0").write_text("aa")
    assert artifacts.get(session, ("k",), build, [str(tmp_path)]) == 3


def test_dead_gateway_entries_leave_quietly(monkeypatch):
    """A DataFrame artifact built through a gateway that has since shut
    down (a process that stops its session and starts another) refuses
    the unpersist call; the next session's miss must still drop it."""
    from pyspark.sql import DataFrame

    class DeadGatewayFrame(DataFrame):
        def unpersist(self, blocking=False):
            raise ConnectionRefusedError(111, "Connection refused")

    monkeypatch.setattr(artifacts, "_STORE", {})
    old = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="old"))
    new = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="new"))
    artifacts.get(old, ("k",), lambda: object.__new__(DeadGatewayFrame))
    assert artifacts.get(new, ("k",), lambda: "fresh") == "fresh"
    assert len(artifacts._STORE) == 1


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
    layout conditions nothing and is an artifact: test_micros_events_handle_is_an_artifact.)"""
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


def test_dup_labels_memoized_per_session_and_branch(spark, monkeypatch):
    """_dup_labels is the dedup family's trained artifact (r14): the
    eager edge build + union-find must run once per (session, corpus,
    branch), with clusters/survivors probing the memo.  The key MUST
    carry the branch actually taken — the LSH threshold is lowered within
    one session in the test suite and the two branches' label sets may
    legitimately differ."""
    from iceberg_data_gen_spark.operators.common import table_artifact
    from iceberg_data_gen_spark.operators.dedup import _dedup_branch, _dup_labels

    a = _dup_labels(spark, SF_DIR)
    b = _dup_labels(spark, SF_DIR)
    assert a is b  # memo hit: no second eager build
    branch = _dedup_branch(spark, SF_DIR)
    key = ("dup_labels", branch)
    assert table_artifact(spark, SF_DIR, "documents", key, _not_cached) is a
    # the exact-branch labels must never be served to the forced-LSH
    # branch (its recall<1 label set is a different artifact)
    monkeypatch.setattr(dedup, "DEDUP_LSH_MIN_DOCS", 0)
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
