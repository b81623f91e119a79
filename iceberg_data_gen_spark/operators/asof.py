"""As-of join: for each left row, the most recent right row with
``right_ts <= left_ts`` on an equality key — the temporal-join primitive
Spark lacks natively (the reference lacks it too; it enters via the
north-star query layer).

Implementation is the union-sort trick, NOT a range join:
tag both sides, union, and run one window over (key, time) taking the
last right value seen at-or-before each left row.  Cost: a single
shuffle on the key + an in-partition sort — O(n log n) per key group,
no quadratic candidate explosion, no interval bucketing to tune.  This
is the shape that survives 100 TB; a per-group ``pd.merge_asof`` would
put Python in the hot path and a theta-join would explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from iceberg_data_gen_spark.operators import register
from iceberg_data_gen_spark.session import load_tables


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str | list[str],
    right_key: str | list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Left as-of join; right ``value_cols`` arrive null when no right row
    precedes the left row.  Ties on timestamp resolve to the largest
    value tuple (deterministic — equivalent to deduplicating the right
    side with max() per (key, ts) first; pinned by the tie dimension of
    the as-of fuzz family).  ``left_key``/``right_key`` accept a single
    column name or a list for COMPOSITE keys (r8): the window partitions
    on the whole key tuple, so per-key independence holds for any arity.

    NULL semantics match SQL ASOF (review r7): a right row with a NULL
    key component or NULL timestamp never matches (``right_ts <=
    left_ts`` is never true for NULL; equality never matches NULL keys)
    — without the filter below, nulls-first ordering put NULL-ts right
    rows at the head of every key partition where ``last(ignorenulls)``
    matched them to left rows with no real predecessor, and NULL-key
    left rows "matched" NULL-key right rows.  A left row with a NULL key
    or ts is kept and simply matches nothing.
    """
    lkeys = [left_key] if isinstance(left_key, str) else list(left_key)
    rkeys = [right_key] if isinstance(right_key, str) else list(right_key)
    if len(lkeys) != len(rkeys):
        raise ValueError(f"key arity mismatch: {lkeys} vs {rkeys}")
    lcols = left.columns
    keep = F.col(right_ts).isNotNull()
    for k in rkeys:
        keep = keep & F.col(k).isNotNull()
    right = right.where(keep)
    # the matched right row travels as ONE struct: filling each value
    # column independently with last(ignorenulls) would stitch fields
    # from DIFFERENT right rows whenever a value column is legitimately
    # NULL (an older non-null value would resurrect past the match)
    knames = [f"__k{i}" for i in range(len(rkeys))]
    r = right.select(
        *[F.col(k).alias(n) for k, n in zip(rkeys, knames)],
        F.col(right_ts).alias("__t"),
        F.lit(1).alias("__is_right"),
        F.struct(*[F.col(c) for c in value_cols]).alias("__rv"),
        *[F.lit(None).alias(f"__l_{c}") for c in lcols],
    )
    l = left.select(
        *[F.col(k).alias(n) for k, n in zip(lkeys, knames)],
        F.col(left_ts).alias("__t"),
        F.lit(0).alias("__is_right"),
        F.lit(None).cast(r.schema["__rv"].dataType).alias("__rv"),
        *[F.col(c).alias(f"__l_{c}") for c in lcols],
    )
    # right rows sort before left rows at equal timestamps (<= semantics);
    # among equal-ts right rows the largest value tuple wins
    # deterministically (struct ordering is field-lexicographic)
    w = (
        Window.partitionBy(*knames)
        .orderBy("__t", F.desc("__is_right"), F.asc_nulls_first("__rv"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    unioned = r.unionByName(l).withColumn(
        "__rv", F.last("__rv", ignorenulls=True).over(w)
    )
    return unioned.where(F.col("__is_right") == 0).select(
        *[F.col(f"__l_{c}").alias(c) for c in lcols],
        *[F.col(f"__rv.{c}").alias(c) for c in value_cols],
    )


@register(
    "q_asof_join",
    oracle="""
    WITH o AS (  -- dedupe equal (custkey, orderdate) so the as-of match is unique
        SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        FROM orders GROUP BY o_custkey, o_orderdate
    )
    -- NULL-ts/NULL-key left rows BYPASS the ASOF and union back with a
    -- NULL match (NULL sweep r11): DuckDB's ASOF sorts a NULL left
    -- timestamp LAST and matches it to the key's LATEST right row,
    -- while predicate semantics (and the Spark operator) say
    -- o_orderdate <= NULL is never true — the render_asof_parts
    -- convention the fuzz family has pinned since r7, now applied to
    -- the registered oracle too.
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderkey AS last_orderkey, o.o_orderdate AS last_orderdate
    FROM (SELECT * FROM events
          WHERE ts IS NOT NULL AND user_id IS NOT NULL) e
    ASOF LEFT JOIN o
      ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    UNION ALL
    SELECT event_id, user_id, ts,
           CAST(NULL AS BIGINT) AS last_orderkey,
           CAST(NULL AS TIMESTAMP) AS last_orderdate
    FROM events WHERE ts IS NULL OR user_id IS NULL
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each event: the customer's most recent order at or before the
    event time (oracle: DuckDB's native ASOF JOIN).  The ORACLE
    deduplicates the right side per (key, ts) with max(o_orderkey) so
    DuckDB's ASOF match is well-defined; the Spark side needs no
    separate aggregation (r13, guide §2.4 "remove shuffles outright"):
    ``asof_join``'s window tie-break — right rows ordered by
    ``(__t, __is_right DESC, __rv ASC)`` with ``__rv = struct(
    o_orderkey, o_orderdate)`` and ``last()`` taking the final row —
    already resolves equal-timestamp right rows to the max o_orderkey,
    which IS that dedup (the tie dimension of the as-of fuzz family
    pins this equivalence).  Dropping the groupBy removes one full
    Exchange + aggregate of the orders side: 3 exchanges → 2."""
    t = load_tables(spark, sf_dir, ("orders", "events"))
    orders = t["orders"].select("o_custkey", "o_orderdate", "o_orderkey")
    out = asof_join(
        t["events"].select("event_id", "user_id", "ts"),
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["o_orderkey", "o_orderdate"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderdate").alias("last_orderdate"),
    )
