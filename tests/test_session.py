"""Session defaults from ``session.get_spark`` that warm operator calls
depend on (README "Session defaults"): a codegen cache that holds the
headline operators' generated classes, and PySpark call-site capture
off."""

from __future__ import annotations

from types import SimpleNamespace

import bench
from iceberg_data_gen_spark import operators
from iceberg_data_gen_spark.streaming.events import stream_partitions
from tests.conftest import SF_DIR

operators.load_all()

# generated classes a warm pass may still compile: measured 4 on the
# first warm pass of the 18 operators and 0 after it (at Spark's default
# cache of 100 entries, 207 on every pass)
WARM_COMPILES_MAX = 8


def _compiles(spark) -> int:
    """Janino compiles since the JVM started (one timer update each)."""
    jvm = spark.sparkContext._jvm
    metrics = getattr(jvm, "org.apache.spark.metrics.source.CodegenMetrics")
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _headline_pass(spark) -> None:
    for name in bench.HEADLINE:
        operators.QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()


def test_call_site_capture_is_off(spark):
    """Every PySpark DataFrame/Column call otherwise walks the Python
    stack and makes four extra py4j round trips.  pyspark caches its
    first read of the flag for the process, so only the session build
    can turn it off."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_warm_headline_pass_reuses_generated_classes(spark):
    """A second pass over the 18 headline operators in one session finds
    its generated classes in the codegen cache.  Fails when the cache
    conf is dropped or the working set outgrows the cache."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 1024
    _headline_pass(spark)
    before = _compiles(spark)
    _headline_pass(spark)
    assert _compiles(spark) - before <= WARM_COMPILES_MAX


def test_stream_partitions_default_is_one_wave():
    """Bounded streams pin at most 8 state partitions and never more
    than the session's cores, so the state stage runs in one wave."""
    for cores, expect in ((2, "2"), (4, "4"), (32, "8")):
        conf = {"spark.sql.shuffle.partitions": "200"}
        fake = SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=cores),
            conf=SimpleNamespace(get=conf.__getitem__, set=conf.__setitem__),
        )
        with stream_partitions(fake):
            assert conf["spark.sql.shuffle.partitions"] == expect
        assert conf["spark.sql.shuffle.partitions"] == "200"
