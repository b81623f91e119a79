"""The artifact cache (``iceberg_data_gen_spark.artifacts``): an entry
belongs to one session and is rebuilt when a file it was built from
changes."""

from __future__ import annotations

import shutil
from types import SimpleNamespace

import pyarrow.parquet as pq

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
