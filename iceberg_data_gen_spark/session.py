"""SparkSession factory tuned for both local testing and large clusters.

Local tests run on ``local[N]``; the same settings are what we'd ship to a
1000-executor cluster: AQE on (runtime re-planning, skew-join handling,
partition coalescing), broadcast threshold generous enough to broadcast
every dimension table of a TPC-H-like star schema, and Arrow enabled so any
pandas-UDF path is batch-vectorized rather than row-at-a-time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from iceberg_data_gen_spark import artifacts


def _external_master() -> bool:
    """True when a launcher outside this process owns the master setting
    (spark-submit's gateway env, or an explicit SPARK_MASTER opt-out)."""
    return (
        "PYSPARK_GATEWAY_PORT" in os.environ  # spark-submit launched the JVM
        or "SPARK_MASTER" in os.environ
    )


def get_spark(
    app_name: str = "iceberg-data-gen-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    All settings below are cluster-safe: on a real cluster ``master`` comes
    from spark-submit and only the SQL-level configs apply.
    """
    # ONE env read for both the master thread count and the shuffle
    # default (review r9): the module-level DEFAULT_SHUFFLE_PARTITIONS
    # froze an import-time value, so setting SPARK_GRAFT_CPUS after
    # import built local[N] with a stale partition count.  Validated at
    # the read (review r12): a non-numeric or <1 value used to surface
    # as a bare int() ValueError or an opaque local[0] context error.
    cpus_raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        cpus = int(cpus_raw)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be a positive integer, got {cpus_raw!r}"
        ) from None
    if cpus < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be >= 1, got {cpus}")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # dimension tables (region/nation/customer/supplier/part at test SF)
        # stay broadcastable; AQE will re-derive at runtime from actual sizes
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Static: read once when the JVM's code generator starts.  The 18
        # headline operators generate ~285 distinct classes; at Spark's
        # default of 100 entries every warm rotation of them recompiled
        # 207 classes in Janino (8-10 ms each).  1024 holds that working
        # set with 3.5x headroom (README "Session defaults").
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # PySpark's call-site capture walks the Python stack and makes
        # four py4j round trips per DataFrame/Column call; pyspark reads
        # this flag once per process, so it only works at session build.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif _external_master():
        # cluster-safe (review r12): under spark-submit the master comes
        # from --master via the already-launched gateway JVM, and calling
        # .master() here would override it with local[N] — the exact
        # failure the docstring promises against.  spark-submit drivers
        # are detected by the gateway env it always sets; SPARK_MASTER
        # remains an explicit opt-out for other launchers.
        pass
    else:
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    """Where testdata table *name* lives under corpus directory *sf_dir*."""
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Load one driver-testdata parquet table as a DataFrame.

    ``events.ts`` has shipped in two physical layouts across testdata
    generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized reader
    only accepts as a raw long via ``spark.sql.legacy.parquet.nanosAsLong``)
    and plain TIMESTAMP(MICROS) (which Spark reads as TIMESTAMP_NTZ).  Both
    are normalized to session-zone TimestampType at microsecond precision —
    the same value DuckDB produces — so every downstream query and oracle
    comparison sees one canonical type regardless of the file layout.
    """
    path = table_path(sf_dir, name)
    build = lambda: spark.read.parquet(path)  # noqa: E731
    if name == "events":
        from pyspark.sql.types import LongType

        from iceberg_data_gen_spark.streaming.events import (
            _events_raw_schema,
            normalize_events_ts,
        )

        layout = lambda: _events_raw_schema(sf_dir)[1]  # noqa: E731
        if artifacts.get(spark, ("events_ts_is_long", path), layout, [path]):
            # The nanos layout is rebuilt per call: its loader conditions
            # a session conf (nanosAsLong) that streaming runners restore
            # afterwards.  The conf is set ONLY for this layout: flipping
            # it unconditionally changed how every LATER parquet read of
            # a TIMESTAMP(NANOS) column in this session decoded (raw
            # longs instead of timestamps).
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            return normalize_events_ts(
                df, isinstance(df.schema["ts"].dataType, LongType)
            )
        build = lambda: normalize_events_ts(spark.read.parquet(path), False)  # noqa: E731
    # Every handle but the nanos events one is an artifact.  A DataFrame is
    # a PLAN, not data: reuse skips re-resolving the source and re-reading
    # the parquet footer (~0.1-0.3s per table per call — r13 measured),
    # while every EXECUTION still scans the file.
    return artifacts.get(spark, ("table", path), build, [path])


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> dict[str, "object"]:
    """Load the requested testdata tables (all by default) and register
    temp views.  Loading is per-table so one table's quirks (events' nano
    timestamps) never block queries that don't touch it.

    Column pruning + predicate pushdown happen at the parquet scan because
    everything downstream stays declarative DataFrame API.
    """
    dfs = {}
    for name in names if names is not None else TABLES:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            if names is not None:
                # an EXPLICITLY requested table that does not exist is a
                # caller bug (typo'd name / wrong sf_dir): failing here
                # beats the downstream KeyError / missing-view error
                raise FileNotFoundError(f"no such table: {path}")
            continue  # the load-everything default skips absent extras
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs
